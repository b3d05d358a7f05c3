package graft

/** DuckDB-runnable ANSI SQL oracles, one per SQL-expressible query in
  * SparkEntry.queries. Column names/aliases must match the Spark side
  * exactly (the driver's compare sorts columns by name before hashing).
  *
  * Float determinism: money sums go through DECIMAL(18,2) (exact,
  * order-independent) and are emitted as DOUBLE; averages are written
  * as castDouble(sum)/count on both sides; similarity values are
  * computed in DOUBLE and rounded to 6 dp on both sides.
  */
object Oracles {

  /** Exact integer-cents sum emitted as double — bit-deterministic on
    * both engines (double→decimal tie-rounding is NOT: Spark HALF_UP
    * vs DuckDB half-to-even). Mirrors Relational.moneySum.
    */
  private def msum(expr: String): String =
    s"SUM(CAST(FLOOR(($expr) * 100 + 0.5) AS BIGINT)) / 100.0"

  val relational: Map[String, String] = Map(
    // MERGE INTO replay: identical derived changeset, FULL OUTER join,
    // delete-filter + update-projection, cents-exact sums
    "q_merge_cdc" -> s"""
      WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
      mx AS (SELECT MAX(o_orderkey) AS mk FROM base),
      upd AS (SELECT o_orderkey AS k, 'U' AS op,
                (CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) + 500) / 100.0
                  AS new_price
              FROM base WHERE o_orderkey % 7 = 0 AND o_orderkey % 13 <> 0),
      del AS (SELECT o_orderkey AS k, 'D' AS op, CAST(NULL AS DOUBLE) AS new_price
              FROM base WHERE o_orderkey % 13 = 0),
      ins AS (SELECT o_orderkey + mk + 1 AS k, 'I' AS op,
                100.0 + (o_orderkey % 900) AS new_price
              FROM base, mx WHERE o_orderkey % 11 = 0),
      delta AS (SELECT * FROM upd UNION ALL SELECT * FROM del
                UNION ALL SELECT * FROM ins),
      m AS (SELECT coalesce(b.o_orderstatus, 'N') AS status,
              CASE WHEN d.op = 'U' THEN d.new_price
                ELSE coalesce(b.o_totalprice, d.new_price) END AS price,
              d.op
            FROM base b FULL OUTER JOIN delta d ON b.o_orderkey = d.k)
      SELECT status, COUNT(*) AS n, ${msum("price")} AS total
      FROM m WHERE op IS NULL OR op <> 'D'
      GROUP BY status ORDER BY status""",

    "q6_forecast" -> s"""
      SELECT ${msum("l_extendedprice * l_discount")} AS revenue, COUNT(*) AS n
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
        AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",

    "q14_promo" -> s"""
      SELECT l_month, promo_rev, total_rev,
        ROUND(promo_rev * 100.0 / total_rev, 6) AS promo_pct
      FROM (
        SELECT substr(CAST(l_shipdate AS VARCHAR), 1, 7) AS l_month,
          SUM(CASE WHEN p_type = 'PROMO'
            THEN CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 100 + 0.5)
              AS BIGINT) ELSE 0 END) / 100.0 AS promo_rev,
          ${msum("l_extendedprice * (1 - l_discount)")} AS total_rev
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY 1) t ORDER BY l_month""",

    "q18_bigorders" -> """
      WITH big AS (SELECT l_orderkey, SUM(l_quantity) AS sum_qty
                   FROM lineitem GROUP BY l_orderkey
                   HAVING SUM(l_quantity) > 300)
      SELECT c_custkey, c_name, o_orderkey, o_totalprice, sum_qty
      FROM orders JOIN big ON o_orderkey = l_orderkey
        JOIN customer ON o_custkey = c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""",
    // Q13 shape: zero-inclusive order-count distribution (left join +
    // double aggregation); COUNT coalesces to 0 for order-less customers
    "q13_custdist" -> """
      WITH oc AS (SELECT o_custkey, COUNT(*) AS n_orders FROM orders
                  WHERE o_orderpriority <> '1-URGENT' GROUP BY o_custkey)
      SELECT coalesce(n_orders, 0) AS c_count, COUNT(*) AS custdist
      FROM customer LEFT JOIN oc ON c_custkey = o_custkey
      GROUP BY 1 ORDER BY custdist DESC, c_count DESC""",

    // Q15 shape: scalar MAX subquery over a derived revenue view; the
    // `= max` equality runs on exact integer cents, never doubles
    "q15_topsupp" -> """
      WITH rev AS (SELECT l_suppkey AS supplier_no,
          CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 100 + 0.5)
            AS BIGINT)) AS BIGINT) AS rev_cents
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY 1)
      SELECT s_suppkey, s_name, rev_cents / 100.0 AS total_revenue
      FROM supplier JOIN rev ON s_suppkey = supplier_no
      WHERE rev_cents = (SELECT MAX(rev_cents) FROM rev)
      ORDER BY s_suppkey""",

    // Q17 shape: correlated per-part average threshold, rewritten
    // integer-exactly (q < S/(5n) <=> 5*q_cents*n < S_cents) so both
    // engines keep identical boundary rows
    "q17_smallqty" -> """
      WITH bp AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#11'),
      lp AS (SELECT l_partkey, l_quantity, l_extendedprice
             FROM lineitem JOIN bp ON l_partkey = p_partkey),
      st AS (SELECT l_partkey AS pk,
               CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sq,
               COUNT(*) AS nq
             FROM lp GROUP BY 1)
      SELECT CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
          / 700.0 AS avg_yearly,
        COUNT(*) AS n_small
      FROM lp JOIN st ON l_partkey = pk
      WHERE CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT) * nq * 5 < sq""",

    // Q22 shape: above-average balances (integer-exact threshold:
    // bal > S/n <=> bal_cents*n > S_cents) anti-joined against orders
    "q22_idle" -> s"""
      WITH qpos AS (SELECT
          CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS s,
          COUNT(*) AS n
        FROM customer WHERE c_acctbal > 0.0)
      SELECT c_nationkey AS cntry, COUNT(*) AS numcust,
        ${msum("c_acctbal")} AS totacctbal
      FROM customer, qpos
      WHERE CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) * n > s
        AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
          AND o_orderpriority = '1-URGENT'
          AND o_orderdate >= TIMESTAMP '1997-06-01')
      GROUP BY 1 ORDER BY 1""",

    // Q4 shape: per-priority count of quarter orders with a late
    // lineitem (correlated EXISTS; lateness = ship-lag > 90 days)
    "q4_priority" -> """
      SELECT o_orderpriority, COUNT(*) AS order_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        AND o_orderdate < TIMESTAMP '1996-10-01'
        AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
      GROUP BY 1 ORDER BY 1""",

    // Q12 shape: 1997 late shipments split into high-/low-priority
    // counts per line status
    "q12_latemode" -> """
      SELECT l_linestatus,
        CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
          THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
          THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
        AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      GROUP BY 1 ORDER BY 1""",

    // Q19 shape: disjunction of three brand/size/quantity clauses over
    // the part join, revenue in exact cents
    "q19_disjunct" -> s"""
      SELECT ${msum("l_extendedprice * (1 - l_discount)")} AS revenue,
        COUNT(*) AS n_items
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
             AND l_quantity BETWEEN 1 AND 11)
         OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
             AND l_quantity BETWEEN 10 AND 20)
         OR (p_brand = 'Brand#7' AND p_size BETWEEN 1 AND 50
             AND l_quantity BETWEEN 20 AND 30)""",

    // Q21 shape: the EXISTS/NOT-EXISTS pair folded into one per-order
    // aggregation (>=2 suppliers, exactly 1 late, blame = the late one)
    "q21_waiting" -> """
      WITH fo AS (SELECT o_orderkey, o_orderdate FROM orders
                  WHERE o_orderstatus = 'F'),
      ll AS (SELECT l_orderkey, l_suppkey,
               CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                 THEN l_suppkey END AS late_supp
             FROM lineitem JOIN fo ON l_orderkey = o_orderkey),
      po AS (SELECT l_orderkey,
               COUNT(DISTINCT l_suppkey) AS n_supp,
               COUNT(DISTINCT late_supp) AS n_late,
               MIN(late_supp) AS blame
             FROM ll GROUP BY 1)
      SELECT s_suppkey, s_name, COUNT(*) AS numwait
      FROM po JOIN supplier ON blame = s_suppkey
      WHERE n_supp >= 2 AND n_late = 1
      GROUP BY 1, 2 ORDER BY numwait DESC, s_suppkey LIMIT 20""",

    // the custom top-k aggregate must equal the window row_number
    // formulation exactly (value DESC, id ASC)
    "q_topk_agg" -> """
      WITH r AS (SELECT l_suppkey, l_orderkey * 10 + l_linenumber AS item_id,
                   l_extendedprice,
                   ROW_NUMBER() OVER (PARTITION BY l_suppkey
                     ORDER BY l_extendedprice DESC,
                       l_orderkey * 10 + l_linenumber) AS rn
                 FROM lineitem)
      SELECT l_suppkey, CAST(rn AS BIGINT) AS rnk, item_id,
        l_extendedprice AS price
      FROM r WHERE rn <= 3 ORDER BY l_suppkey, rnk""",

    // the KMV sketch is deterministic (md5 hash + k-smallest), so the
    // ESTIMATE itself replays bit-equal — full hash oracle, no band
    "q_kmv_jaccard" -> """
      WITH va AS (SELECT DISTINCT user_id FROM events
                  WHERE event_type = 'view'),
      pb AS (SELECT DISTINCT user_id FROM events
             WHERE event_type = 'purchase'),
      ha AS (SELECT user_id,
               CAST(('0x' || substr(md5('kmv_' || user_id), 1, 15)) AS BIGINT) AS h
             FROM va),
      hb AS (SELECT user_id,
               CAST(('0x' || substr(md5('kmv_' || user_id), 1, 15)) AS BIGINT) AS h
             FROM pb),
      ska AS (SELECT h FROM ha ORDER BY h, user_id LIMIT 64),
      skb AS (SELECT h FROM hb ORDER BY h, user_id LIMIT 64),
      un AS (SELECT DISTINCT h FROM
               (SELECT h FROM ska UNION ALL SELECT h FROM skb) u
             ORDER BY h LIMIT 64),
      est AS (SELECT CAST(COUNT(*) AS BIGINT) AS est_common FROM un
              WHERE h IN (SELECT h FROM ska) AND h IN (SELECT h FROM skb)),
      ix AS (SELECT CAST(COUNT(*) AS BIGINT) AS inter_exact
             FROM va JOIN pb USING (user_id)),
      up AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS union_exact
             FROM (SELECT user_id FROM va UNION ALL SELECT user_id FROM pb) x)
      SELECT CAST(64 AS BIGINT) AS k, est_common,
        ROUND(est_common / 64.0, 6) AS jacc_est,
        inter_exact, union_exact,
        ROUND(CAST(inter_exact AS DOUBLE) / union_exact, 6) AS jacc_exact
      FROM est, ix, up""",

    // bitmap-shard distinct is EXACT: the oracle is the plain
    // COUNT(DISTINCT) the bit_or/popcount pipeline must reproduce
    "q_bitmap_distinct" -> """
      SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events GROUP BY 1 ORDER BY 1""",

    // sketch rollup gate: the merged per-day HLL union must land
    // within 5% of exact — literal-TRUE flags, as with the other
    // sketch error gates
    "q_hll_rollup" -> """
      SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
        TRUE AS within_5pct
      FROM events GROUP BY 1 ORDER BY 1""",

    // Q2 shape: correlated MIN subquery — per part, the EU suppliers
    // at the minimum observed price (integer-cents equality)
    "q2_mincost" -> """
      WITH ep AS (SELECT p_partkey FROM part
                  WHERE p_type = 'STANDARD' AND p_size <= 5),
      es AS (SELECT s_suppkey, s_name, s_acctbal
             FROM supplier JOIN nation ON s_nationkey = n_nationkey
               JOIN region ON n_regionkey = r_regionkey
             WHERE r_name = 'EUROPE'),
      cost AS (SELECT l_partkey AS pk, l_suppkey AS sk,
                 MIN(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS cost_cents
               FROM lineitem JOIN ep ON l_partkey = p_partkey
                 JOIN es ON l_suppkey = s_suppkey
               GROUP BY 1, 2),
      mn AS (SELECT pk AS mpk, MIN(cost_cents) AS m FROM cost GROUP BY 1)
      SELECT pk AS p_partkey, s_suppkey, s_name, s_acctbal,
        cost_cents / 100.0 AS cost
      FROM cost JOIN mn ON pk = mpk AND cost_cents = m
        JOIN es ON sk = s_suppkey
      ORDER BY s_acctbal DESC, p_partkey, s_suppkey LIMIT 100""",

    // Q11 shape: HAVING against a scalar subquery, integer
    // cross-multiplied (value*1000 > total)
    "q11_important" -> """
      WITH asp AS (SELECT s_suppkey FROM supplier
                   JOIN nation ON s_nationkey = n_nationkey
                   JOIN region ON n_regionkey = r_regionkey
                   WHERE r_name = 'ASIA'),
      v AS (SELECT l_partkey,
              CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 100 + 0.5)
                AS BIGINT)) AS BIGINT) AS value_cents
            FROM lineitem JOIN asp ON l_suppkey = s_suppkey
            GROUP BY 1)
      SELECT l_partkey AS p_partkey, value_cents / 100.0 AS value
      FROM v, (SELECT CAST(SUM(value_cents) AS BIGINT) AS total_cents FROM v) t
      WHERE value_cents * 1000 > total_cents
      ORDER BY value_cents DESC, l_partkey""",

    // Q16 shape: distinct supplier count per (brand, type, size) with
    // brand/type exclusions and a complaints anti-join
    "q16_suppcnt" -> """
      WITH pf AS (SELECT p_partkey, p_brand, p_type, p_size FROM part
                  WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
                    AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)),
      pairs AS (SELECT DISTINCT l_partkey, l_suppkey
                FROM lineitem JOIN pf ON l_partkey = p_partkey
                WHERE l_suppkey NOT IN
                  (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7'))
      SELECT p_brand, p_type, p_size,
        CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      FROM pairs JOIN pf ON l_partkey = p_partkey
      GROUP BY 1, 2, 3
      ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",

    // Q20 shape: nested semi-joins — suppliers moving >30 units of a
    // red part in 1996, restricted to one region
    "q20_excess" -> """
      WITH rp AS (SELECT p_partkey FROM part WHERE p_name LIKE 'red %'),
      movers AS (SELECT l_suppkey FROM lineitem
                   JOIN rp ON l_partkey = p_partkey
                 WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                   AND l_shipdate < TIMESTAMP '1997-01-01'
                 GROUP BY l_suppkey, l_partkey
                 HAVING CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT))
                   AS BIGINT) > 3000)
      SELECT s_suppkey, s_name
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'AMERICA'
        AND s_suppkey IN (SELECT l_suppkey FROM movers)
      ORDER BY s_suppkey""",

    // Q7 shape: two-nation shipping volume, both directions, by ship
    // year, revenue in exact cents
    "q7_volume" -> s"""
      WITH nat AS (SELECT n_nationkey, n_name FROM nation
                   WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')),
      sp AS (SELECT s_suppkey, n_name AS supp_nation
             FROM supplier JOIN nat ON s_nationkey = n_nationkey),
      cu AS (SELECT c_custkey, n_name AS cust_nation
             FROM customer JOIN nat ON c_nationkey = n_nationkey),
      oc AS (SELECT o_orderkey, cust_nation
             FROM orders JOIN cu ON o_custkey = c_custkey)
      SELECT supp_nation, cust_nation,
        CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
        ${msum("l_extendedprice * (1 - l_discount)")} AS revenue
      FROM lineitem JOIN sp ON l_suppkey = s_suppkey
        JOIN oc ON l_orderkey = o_orderkey
      WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        AND l_shipdate < TIMESTAMP '1999-01-01'
        AND supp_nation <> cust_nation
      GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",

    // Q8 shape: market share as a ratio of two integer cents sums
    // folded in one aggregation pass
    "q8_share" -> """
      WITH ep AS (SELECT p_partkey FROM part WHERE p_type = 'ECONOMY'),
      ac AS (SELECT c_custkey FROM customer
             JOIN nation ON c_nationkey = n_nationkey
             JOIN region ON n_regionkey = r_regionkey
             WHERE r_name = 'AMERICA'),
      sp AS (SELECT s_suppkey, n_name AS supp_nation
             FROM supplier JOIN nation ON s_nationkey = n_nationkey),
      oc AS (SELECT o_orderkey,
               CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year
             FROM orders JOIN ac ON o_custkey = c_custkey
             WHERE o_orderdate >= TIMESTAMP '1996-01-01'
               AND o_orderdate < TIMESTAMP '1998-01-01'),
      agg AS (SELECT o_year,
          CAST(SUM(CASE WHEN supp_nation = 'NATION_3'
            THEN CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 100 + 0.5)
              AS BIGINT) ELSE 0 END) AS BIGINT) AS nation_cents,
          CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 100 + 0.5)
            AS BIGINT)) AS BIGINT) AS total_cents
        FROM lineitem JOIN ep ON l_partkey = p_partkey
          JOIN sp ON l_suppkey = s_suppkey
          JOIN oc ON l_orderkey = o_orderkey
        GROUP BY 1)
      SELECT o_year, CAST(nation_cents AS DOUBLE) / total_cents AS mkt_share,
        total_cents / 100.0 AS total_rev
      FROM agg ORDER BY o_year""",

    // Q9 shape: profit folded in milli-units (10*rev_cents -
    // retail_cents*qty), per supplier nation per order year
    "q9_profit" -> """
      WITH gp AS (SELECT p_partkey, p_retailprice FROM part
                  WHERE p_name LIKE '%gear%'),
      sp AS (SELECT s_suppkey, n_name AS nation
             FROM supplier JOIN nation ON s_nationkey = n_nationkey)
      SELECT nation, CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
        CAST(SUM(
          CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 100 + 0.5) AS BIGINT) * 10
          - CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT)
            * CAST(l_quantity AS BIGINT)) AS BIGINT) / 1000.0 AS sum_profit
      FROM lineitem JOIN gp ON l_partkey = p_partkey
        JOIN sp ON l_suppkey = s_suppkey
        JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2 ORDER BY nation, o_year DESC""",

    // gaps-and-islands: island key = integer day number - row_number,
    // constant within a consecutive run on both engines
    "q_gaps_islands" -> """
      WITH ud AS (SELECT DISTINCT user_id,
          date_diff('day', TIMESTAMP '2024-01-01', date_trunc('day', ts)) AS day_num
        FROM events WHERE event_type = 'click'),
      rn AS (SELECT user_id, day_num,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day_num) AS rn
             FROM ud),
      isl AS (SELECT user_id, day_num - rn AS grp, COUNT(*) AS len
              FROM rn GROUP BY user_id, day_num - rn)
      SELECT user_id, COUNT(*) AS n_streaks, MAX(len) AS longest,
        CAST(SUM(len) AS BIGINT) AS active_days
      FROM isl GROUP BY user_id ORDER BY user_id""",

    // cohort retention matrix: first-purchase day x day offset,
    // distinct active users per cell
    "q_retention" -> """
      WITH rp AS (SELECT user_id, date_trunc('day', ts) AS d
                  FROM events WHERE event_type = 'purchase'),
      rf AS (SELECT user_id, MIN(d) AS cd FROM rp GROUP BY user_id)
      SELECT strftime(rf.cd, '%Y-%m-%d') AS cohort,
        date_diff('day', rf.cd, rp.d) AS day_n,
        CAST(COUNT(DISTINCT rp.user_id) AS BIGINT) AS n_users
      FROM rp JOIN rf ON rp.user_id = rf.user_id
      GROUP BY 1, 2 ORDER BY 1, 2""",

    "q1_pricing" -> s"""
      SELECT l_returnflag, l_linestatus,
        ${msum("l_quantity")} AS sum_qty,
        ${msum("l_extendedprice")} AS sum_base_price,
        ${msum("l_extendedprice*(1-l_discount)")} AS sum_disc_price,
        ${msum("l_extendedprice*(1-l_discount)*(1+l_tax)")} AS sum_charge,
        ${msum("l_quantity")} / COUNT(*) AS avg_qty,
        COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",

    "q3_topn" -> s"""
      SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        ${msum("l_extendedprice*(1-l_discount)")} AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-03-15'
        AND l_shipdate > TIMESTAMP '1998-03-15'
      GROUP BY l_orderkey, o_orderdate
      ORDER BY revenue DESC, l_orderkey ASC
      LIMIT 10""",

    "q5_multijoin" -> s"""
      SELECT n_name,
        ${msum("l_extendedprice*(1-l_discount)")} AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY n_name
      ORDER BY revenue DESC, n_name ASC""",

    "q10_returned" -> s"""
      SELECT c_custkey, c_name, c_acctbal, n_name,
        ${msum("l_extendedprice*(1-l_discount)")} AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
        AND o_orderdate >= TIMESTAMP '1996-10-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY c_custkey, c_name, c_acctbal, n_name
      ORDER BY revenue DESC, c_custkey ASC
      LIMIT 20""",

    "q_semijoin" -> s"""
      SELECT o_orderstatus, COUNT(*) AS n_orders,
        ${msum("o_totalprice")} AS sum_total
      FROM orders
      WHERE EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_extendedprice > 90000)
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus""",

    "q_antijoin" -> """
      SELECT c_mktsegment, COUNT(*) AS n_customers
      FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""",

    "q_window_topk" -> """
      SELECT p_brand, CAST(rk AS BIGINT) AS rk, p_partkey, price FROM (
        SELECT p_brand, p_partkey,
          CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) / 100.0 AS price,
          ROW_NUMBER() OVER (PARTITION BY p_brand
                             ORDER BY p_retailprice DESC, p_partkey ASC) AS rk
        FROM part) t
      WHERE rk <= 3
      ORDER BY p_brand, rk""",

    "q_running_sum" -> """
      WITH daily AS (
        SELECT l_suppkey, strftime(l_shipdate, '%Y-%m-%d') AS ship_day,
          SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS day_cents
        FROM lineitem WHERE l_suppkey <= 5
        GROUP BY l_suppkey, ship_day)
      SELECT l_suppkey, ship_day, day_cents / 100.0 AS day_rev,
        SUM(day_cents) OVER (PARTITION BY l_suppkey ORDER BY ship_day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0 AS running_rev
      FROM daily
      ORDER BY l_suppkey, ship_day""",

    "q_events_hourly" -> s"""
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour,
        event_type, COUNT(*) AS n,
        ${msum("value")} / COUNT(*) AS avg_value
      FROM events
      GROUP BY hour, event_type
      ORDER BY hour, event_type""",

    "q_sessionize" -> """
      WITH ev AS (
        SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events),
      flagged AS (
        SELECT user_id, event_id, ts_ms,
          CASE WHEN lag(ts_ms) OVER w IS NULL
                 OR ts_ms - lag(ts_ms) OVER w > 30*60*1000
               THEN 1 ELSE 0 END AS new_sess
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
      sess AS (
        SELECT user_id, ts_ms,
          CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM flagged)
      SELECT user_id, session_id, COUNT(*) AS n_events,
        CAST(FLOOR((MAX(ts_ms) - MIN(ts_ms)) / 1000.0) AS BIGINT) AS duration_s
      FROM sess
      GROUP BY user_id, session_id
      ORDER BY user_id, session_id""",

    "q_distinct" -> """
      SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
      FROM events
      GROUP BY event_type
      ORDER BY event_type""",

    "q_cube" -> s"""
      SELECT COALESCE(n_name, 'ALL') AS nation,
        COALESCE(c_mktsegment, 'ALL') AS segment,
        COUNT(*) AS n,
        ${msum("c_acctbal")} AS acctbal
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY CUBE (n_name, c_mktsegment)
      ORDER BY nation, segment""",

    "q_events_funnel" -> """
      WITH ev AS (SELECT user_id, event_type, epoch_ms(ts) AS ts_ms FROM events),
      pu AS (SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts_ms END) AS t_view,
               MIN(CASE WHEN event_type = 'click' THEN ts_ms END) AS t_click,
               MIN(CASE WHEN event_type = 'purchase' THEN ts_ms END) AS t_purchase
             FROM ev GROUP BY user_id)
      SELECT COUNT(*) AS n_users,
        COUNT(t_view) AS n_view,
        COUNT(CASE WHEN t_click > t_view THEN 1 END) AS n_view_click,
        COUNT(CASE WHEN t_click > t_view AND t_purchase > t_click THEN 1 END)
          AS n_view_click_purchase
      FROM pu""",

    "q_rollup" -> s"""
      SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        COALESCE(o_orderpriority, 'ALL') AS priority,
        COUNT(*) AS n,
        ${msum("o_totalprice")} AS total
      FROM orders
      GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      ORDER BY status, priority"""
  )

  // ---- shared SQL fragments (generated from the same constants the
  // Scala operators use, so the two sides cannot drift) ----------------

  import graft.functions.{HashFns => H}

  /** VALUES table of the MinHash permutation constants. */
  private val permValues: String =
    (0 until H.numPerms)
      .map(i => s"(${i}, ${H.minhashA(i)}, ${H.minhashB(i)})")
      .mkString(", ")

  /** doc_id, shingle-hash h∈[0,P31) for every 5-char shingle. */
  private val shinglesCte: String = s"""
      p AS (SELECT doc_id, text, unnest(generate_series(1, length(text)-4)) AS i
            FROM documents WHERE length(text) >= 5),
      sh AS (SELECT doc_id,
               CAST(('0x' || substr(md5(substr(text, i, 5)), 1, 15)) AS BIGINT)
                 % ${H.P31} AS h
             FROM p)"""

  /** doc_id, non-empty whitespace token (with duplicates). */
  private val tokensCte: String = """
      tk AS (SELECT doc_id, tok FROM (
               SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
               FROM documents) u
             WHERE tok <> '')"""

  /** doc_id, perm_id, mh — the full MinHash signature, long format. */
  private val minhashCte: String = s"""$shinglesCte,
      perm AS (SELECT * FROM (VALUES $permValues) AS t(perm_id, a, b)),
      mh AS (SELECT doc_id, CAST(perm_id AS BIGINT) AS perm_id,
               MIN((a * h + b) % ${H.P31}) AS mh
             FROM sh CROSS JOIN perm GROUP BY doc_id, perm_id)"""

  /** MinHash LSH bands (4 bands × 4 rows) + candidate pairs. */
  private val bandPairsCte: String = s"""$minhashCte,
      band AS (SELECT doc_id, perm_id // 4 AS band_id,
                 md5(string_agg(mh::VARCHAR, ',' ORDER BY perm_id)) AS band_key
               FROM mh GROUP BY doc_id, perm_id // 4),
      pairs AS (SELECT DISTINCT l.doc_id AS doc1, r.doc_id AS doc2
                FROM band l JOIN band r
                  ON l.band_id = r.band_id AND l.band_key = r.band_key
                 AND l.doc_id < r.doc_id)"""

  /** Embedding corpus with double vectors + norms. */
  private val normsCte: String = """
      e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)"""

  /** Random-hyperplane LSH band keys per vector (exact integer sign
    * sums over round(1000·x) quantized components — mirrors
    * VectorFns.quantize + HashFns.hyperplaneSign).
    */
  private val lshBandsCte: String = s"""$normsCte,
      dims AS (SELECT unnest(generate_series(1, 64)) AS d),
      js AS (SELECT unnest(generate_series(0, 7)) AS j),
      dots AS (SELECT vec_id, j,
                 SUM((CASE WHEN strpos('0123456789abcdef',
                        substr(md5('hp_' || j || '_' || d), 1, 1)) <= 8
                      THEN 1 ELSE -1 END)
                     * CAST(ROUND(v[d] * 1000, 0) AS BIGINT)) AS dot
               FROM e CROSS JOIN dims CROSS JOIN js
               GROUP BY vec_id, j),
      bits AS (SELECT vec_id, j, CASE WHEN dot > 0 THEN 1 ELSE 0 END AS bit FROM dots),
      bands AS (SELECT vec_id,
                  SUM(CASE WHEN j < 4 THEN bit << j ELSE 0 END) AS band0,
                  SUM(CASE WHEN j >= 4 THEN bit << (j - 4) ELSE 0 END) AS band1
                FROM bits GROUP BY vec_id)"""

  /** Matryoshka prefix-search replay: coarse cosine over dims 1-16
    * with prefix norms, top-20 candidates by (psim DESC, neighbor_id),
    * then exact full-dim cosine on the survivors. Requires `n`
    * (normsCte) in scope; ends with `mrer` (query_id, neighbor_id,
    * psim, sim).
    */
  private val mrlCte: String = """
      mp AS (SELECT vec_id, v[1:16] AS vp,
               sqrt(list_dot_product(v[1:16], v[1:16])) AS np FROM n),
      mqp AS (SELECT vec_id AS query_id, vp AS qvp, np AS qnp
              FROM mp WHERE vec_id < 10),
      mcoarse AS (SELECT query_id, mp.vec_id AS neighbor_id,
               ROUND(list_dot_product(qvp, mp.vp) / (qnp * mp.np), 6) AS psim
             FROM mp CROSS JOIN mqp WHERE mp.vec_id <> query_id),
      mcand AS (SELECT query_id, neighbor_id, psim FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY psim DESC, neighbor_id) AS crnk FROM mcoarse) t
             WHERE crnk <= 20),
      mqf AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
              FROM n WHERE vec_id < 10),
      mrer AS (SELECT c.query_id, c.neighbor_id, c.psim,
               ROUND(list_dot_product(f.qv, y.v) / (f.qn * y.nrm), 6) AS sim
             FROM mcand c JOIN n y ON y.vec_id = c.neighbor_id
               JOIN mqf f ON f.query_id = c.query_id)"""

  /** Exact cosine top-5 for queries vec_id<10 (rnk ≤ 5). */
  private val knnCte: String = s"""$normsCte,
      q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
      s AS (SELECT query_id, vec_id AS neighbor_id,
              ROUND(list_dot_product(qv, v) / (qn * nrm), 6) AS sim
            FROM n CROSS JOIN q WHERE vec_id <> query_id),
      r AS (SELECT query_id, neighbor_id, sim,
              CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
            FROM s),
      top5 AS (SELECT * FROM r WHERE rnk <= 5)"""

  /** Deterministic IVF training + search, replayed as unrolled SQL:
    * seeds = first k vectors (cid = rank by vec_id), each Lloyd
    * iteration = round-6 cosine argmax assignment then per-dim mean as
    * a vec_id-sorted 0.0-seeded fold (bit-equal to Spark's
    * aggregate(array_sort(collect_list(..)), 0.0, +) — see
    * Knn.ivfModel). Training runs on the fixed vec_id < IvfTrainSample
    * prefix, mirroring Knn.trainIvf's bounded sample; the final
    * `ivfasg` assignment covers the FULL corpus. Ends with `ivfasg`
    * (vec_id, v, nrm, cid under the final centroids) and `ivftop`
    * (per-query IVF top-5 via nprobe probed lists).
    */
  private def ivfCte: String = {
    import graft.operators.Knn.{IvfClusters, IvfIters, IvfNprobe, IvfTrainSample, NumQueries, DefaultK}
    val sb = new StringBuilder
    sb.append(s"""$normsCte,
      ivfdims AS (SELECT unnest(generate_series(1, 64)) AS d),
      ivftrain AS (SELECT vec_id, v, nrm FROM n WHERE vec_id < $IvfTrainSample),
      cent0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
                  v AS cv, sqrt(list_dot_product(v, v)) AS cn
                FROM ivftrain WHERE vec_id < $IvfClusters)""")
    for (i <- 1 to IvfIters) {
      sb.append(s""",
      asg$i AS (SELECT vec_id, v, nrm, cid FROM (
            SELECT n.vec_id, n.v, n.nrm, c.cid,
              ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
                ROUND(list_dot_product(n.v, c.cv) / (n.nrm * c.cn), 6) DESC,
                c.cid ASC) AS rn
            FROM ivftrain n CROSS JOIN cent${i - 1} c) t WHERE rn = 1),
      cm$i AS (SELECT cid, d,
            list_reduce(list(v[d] ORDER BY vec_id), (a, b) -> a + b) / COUNT(*) AS m
          FROM asg$i CROSS JOIN ivfdims GROUP BY cid, d),
      cent$i AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM (
            SELECT cid, list(m ORDER BY d) AS cv FROM cm$i GROUP BY cid) t)""")
    }
    sb.append(s""",
      ivfasg AS (SELECT vec_id, v, nrm, cid FROM (
            SELECT n.vec_id, n.v, n.nrm, c.cid,
              ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
                ROUND(list_dot_product(n.v, c.cv) / (n.nrm * c.cn), 6) DESC,
                c.cid ASC) AS rn
            FROM n CROSS JOIN cent$IvfIters c) t WHERE rn = 1),
      ivfq AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
               FROM n WHERE vec_id < $NumQueries),
      ivfprobe AS (SELECT query_id, qv, qn, cid AS pcid FROM (
            SELECT q.query_id, q.qv, q.qn, c.cid,
              ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                ROUND(list_dot_product(q.qv, c.cv) / (q.qn * c.cn), 6) DESC,
                c.cid ASC) AS rn
            FROM ivfq q CROSS JOIN cent$IvfIters c) t WHERE rn <= $IvfNprobe),
      ivfcand AS (SELECT p.query_id, a.vec_id AS neighbor_id,
              ROUND(list_dot_product(p.qv, a.v) / (p.qn * a.nrm), 6) AS sim
            FROM ivfprobe p JOIN ivfasg a
              ON a.cid = p.pcid AND a.vec_id <> p.query_id),
      ivftop AS (SELECT query_id, neighbor_id, sim,
              CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
            FROM ivfcand QUALIFY rnk <= $DefaultK)""")
    sb.toString
  }

  /** IVF-BQ candidate chain (assumes ivfCte in scope): sign codes,
    * Hamming inside the probed lists, top-20, exact-cosine rescoring.
    * Shared by v_ivf_bq and its recall gate.
    */
  private val ivfBqCte: String = """
      ibc AS (SELECT vec_id,
               bit_or(CASE WHEN i <= 32 AND v[i] > 0
                 THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END) AS code_lo,
               bit_or(CASE WHEN i > 32 AND v[i] > 0
                 THEN (1::BIGINT << (i - 33)) ELSE 0::BIGINT END) AS code_hi
             FROM (SELECT vec_id, v, unnest(generate_series(1, 64)) AS i FROM n) t
             GROUP BY vec_id),
      ibh AS (SELECT p.query_id, a.vec_id AS neighbor_id,
                CAST(bit_count(xor(c.code_lo, qc.code_lo))
                  + bit_count(xor(c.code_hi, qc.code_hi)) AS BIGINT) AS hamming
              FROM ivfprobe p
              JOIN ivfasg a ON a.cid = p.pcid AND a.vec_id <> p.query_id
              JOIN ibc c ON c.vec_id = a.vec_id
              JOIN ibc qc ON qc.vec_id = p.query_id),
      ib20 AS (SELECT query_id, neighbor_id, hamming FROM (
                 SELECT query_id, neighbor_id, hamming,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY hamming, neighbor_id) AS hrnk
                 FROM ibh) t WHERE hrnk <= 20),
      ibr AS (SELECT b.query_id, b.neighbor_id, b.hamming,
                ROUND(list_dot_product(q.qv, n.v) / (q.qn * n.nrm), 6) AS sim
              FROM ib20 b JOIN n ON n.vec_id = b.neighbor_id
              JOIN ivfq q ON q.query_id = b.query_id)"""

  /** Deterministic PQ codebook training + ADC search, replayed as
    * unrolled SQL (assumes `n` from normsCte is in scope — composes
    * with normsCte or ivfCte). Mirrors Knn.trainPqBooks exactly: seeds =
    * subvectors of the first K vectors, round-6 L2 argmin assignment,
    * vec_id-sorted fold means, codebooks trained on the vec_id<500
    * sample, full-corpus encode, ADC via per-(query, subspace, code)
    * partial-L2 table, m-sorted fold sum. Every float op folds in the
    * same order as the Spark side, so codebooks are bit-identical.
    * Ends with `pcodes` (full-corpus codes), `pdt` (ADC table), and
    * `pqtop` (per-query ADC top-5).
    */
  private def pqCteBody(src: String = "n", sfx: String = ""): String = {
    import graft.operators.Knn.{PqSubspaces, PqCodes, PqIters, NumQueries, DefaultK}
    val dsub = 64 / PqSubspaces
    def fold(expr: String): String =
      s"list_reduce(list_transform(generate_series(1, $dsub), ii -> $expr), (a, b) -> a + b)"
    def asgFrom(src: String, books: String): String = s"""(
            SELECT t.vec_id, t.m, t.sv, b.k AS code,
              ROW_NUMBER() OVER (PARTITION BY t.vec_id, t.m ORDER BY
                ROUND(t.svn + ${fold("b.cv[ii] * b.cv[ii]")}
                  - 2.0 * ${fold("t.sv[ii] * b.cv[ii]")}, 6) ASC,
                b.k ASC) AS rn
            FROM $src t JOIN $books b ON b.m = t.m) z WHERE rn = 1"""
    val sb = new StringBuilder
    sb.append(s"""
      pqdims$sfx AS (SELECT unnest(generate_series(1, $dsub)) AS d),
      pqms$sfx AS (SELECT unnest(generate_series(0, ${PqSubspaces - 1})) AS m),
      psub$sfx AS (SELECT vec_id, m, v[m * $dsub + 1 : m * $dsub + $dsub] AS sv,
                 ${fold(s"v[m * $dsub + ii] * v[m * $dsub + ii]")} AS svn
               FROM $src CROSS JOIN pqms$sfx),
      ptrain$sfx AS (SELECT * FROM psub$sfx WHERE vec_id < 500),
      pbooks0$sfx AS (SELECT m,
                    CAST(ROW_NUMBER() OVER (PARTITION BY m ORDER BY vec_id) - 1 AS INT) AS k,
                    sv AS cv
                  FROM psub$sfx WHERE vec_id < $PqCodes)""")
    for (i <- 1 to PqIters) {
      sb.append(s""",
      pasg$i$sfx AS (SELECT vec_id, m, sv, code FROM ${asgFrom(s"ptrain$sfx", s"pbooks${i - 1}$sfx")}),
      pcm$i$sfx AS (SELECT m, code, d,
            list_reduce(list(sv[d] ORDER BY vec_id), (a, b) -> a + b) / COUNT(*) AS mu
          FROM pasg$i$sfx CROSS JOIN pqdims$sfx GROUP BY m, code, d),
      pbooks$i$sfx AS (SELECT b.m, b.k, COALESCE(nb.cv, b.cv) AS cv
          FROM pbooks${i - 1}$sfx b LEFT JOIN (
            SELECT m, code AS k, list(mu ORDER BY d) AS cv
            FROM pcm$i$sfx GROUP BY m, code) nb
          ON nb.m = b.m AND nb.k = b.k)""")
    }
    sb.append(s""",
      pcodes$sfx AS (SELECT vec_id, m, code FROM ${asgFrom(s"psub$sfx", s"pbooks$PqIters$sfx")}),
      pqq$sfx AS (SELECT vec_id AS query_id, m, sv AS qsv FROM psub$sfx WHERE vec_id < $NumQueries),
      pdt$sfx AS (SELECT q.query_id, b.m, b.k,
                ${fold("(q.qsv[ii] - b.cv[ii]) * (q.qsv[ii] - b.cv[ii])")} AS d2
              FROM pqq$sfx q JOIN pbooks$PqIters$sfx b ON b.m = q.m),
      pqscore$sfx AS (SELECT t.query_id, c.vec_id,
                ROUND(sqrt(list_reduce(list(t.d2 ORDER BY t.m), (a, b) -> a + b)), 6)
                  AS adc_dist
              FROM pcodes$sfx c JOIN pdt$sfx t
                ON t.m = c.m AND t.k = c.code AND c.vec_id <> t.query_id
              GROUP BY t.query_id, c.vec_id),
      pqtop$sfx AS (SELECT query_id, vec_id AS neighbor_id, adc_dist,
                CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY adc_dist ASC, vec_id ASC) AS BIGINT) AS rnk
              FROM pqscore$sfx QUALIFY rnk <= $DefaultK)""")
    sb.toString
  }

  /** Residual IVF-PQ chain (assumes ivfCte in scope): residual source
    * nres = v − assigned centroid, PQ training replayed ON THE
    * RESIDUALS (pqCteBody with suffixed CTE names so the raw chain can
    * coexist in the same statement), then per-(query, probed list)
    * residual ADC tables — the query's residual is taken against the
    * PROBED centroid, mirroring Knn.vIvfPqRes — and the ADC score
    * inside the probed lists. centf and nres are MATERIALIZED: DuckDB
    * inlines CTEs per reference, and without the fence the Lloyd
    * chain replays once per consumer (the CTE-materialization
    * gotcha). Ends with `rscore` (query_id, vec_id, adc_dist).
    */
  private def ivfPqResCte: String = {
    import graft.operators.Knn.{PqSubspaces, PqIters, IvfIters}
    val dsub = 64 / PqSubspaces
    def fold(expr: String): String =
      s"list_reduce(list_transform(generate_series(1, $dsub), ii -> $expr), (a, b) -> a + b)"
    s"""centf AS MATERIALIZED (SELECT cid, cv FROM cent$IvfIters),
      nres AS MATERIALIZED (SELECT a.vec_id,
               list_transform(generate_series(1, 64), i -> a.v[i] - c.cv[i]) AS v
             FROM ivfasg a JOIN centf c ON c.cid = a.cid),
      ${pqCteBody("nres", "r")},
      rsub AS (SELECT p.query_id, p.pcid, m.m,
                 list_transform(generate_series(1, $dsub),
                   ii -> p.qv[m.m * $dsub + ii] - c.cv[m.m * $dsub + ii]) AS qsv
               FROM ivfprobe p JOIN centf c ON c.cid = p.pcid
               CROSS JOIN pqmsr m),
      rpdt AS (SELECT q.query_id, q.pcid, b.m, b.k,
                 ${fold("(q.qsv[ii] - b.cv[ii]) * (q.qsv[ii] - b.cv[ii])")} AS d2
               FROM rsub q JOIN pbooks${PqIters}r b ON b.m = q.m),
      rcand AS (SELECT p.query_id AS cq, p.pcid, a.vec_id AS cv
                FROM ivfprobe p JOIN ivfasg a
                  ON a.cid = p.pcid AND a.vec_id <> p.query_id),
      rscore AS (SELECT t.query_id, c.cv AS vec_id,
                ROUND(sqrt(list_reduce(list(t.d2 ORDER BY t.m), (a, b) -> a + b)), 6)
                  AS adc_dist
              FROM pcodesr pc
                JOIN rcand c ON pc.vec_id = c.cv
                JOIN rpdt t ON t.query_id = c.cq AND t.pcid = c.pcid
                  AND t.m = pc.m AND t.k = pc.code
              GROUP BY t.query_id, c.cv)"""
  }

  /** MMR greedy trajectory replayed round by round (assumes `n` in
    * scope): top-20 exact-cosine candidates, their pairwise cosine
    * matrix, then DefaultK−1 unrolled selection rounds — each round
    * left-anti-joins the running selection, penalizes by
    * max-psim-to-selected, and picks the round-6 score argmax with the
    * neighbor_id tiebreak, exactly Knn.vMmr's supersteps. Selection
    * CTEs are MATERIALIZED: each is referenced three times by the next
    * round and DuckDB inlines per reference. Ends with `mmrall`
    * (query_id, rnk, neighbor_id, score, sim).
    */
  /** The exact-retrieval candidate block (v_mmr's front half): top-20
    * cosine per query into `mcand`. The greedy trajectory itself lives
    * in [[mmrGreedyCte]] so the persisted tiers can rerank their OWN
    * candidate sets (v_mmr_store).
    */
  private def mmrCte: String = {
    import graft.operators.Knn.{NumQueries, MmrCandidates}
    s"""
      mq AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
             FROM n WHERE vec_id < $NumQueries),
      msims AS (SELECT query_id, n.vec_id AS neighbor_id,
                  ROUND(list_dot_product(qv, n.v) / (qn * n.nrm), 6) AS sim
                FROM n CROSS JOIN mq WHERE n.vec_id <> query_id),
      mcand AS MATERIALIZED (SELECT query_id, neighbor_id, sim FROM (
                SELECT query_id, neighbor_id, sim,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, neighbor_id) AS crnk
                FROM msims) t WHERE crnk <= $MmrCandidates)""" + mmrGreedyCte
  }

  /** The unrolled MMR greedy rounds over whatever `mcand` (query_id,
    * neighbor_id, sim) a caller composes, pair cosines from `n`; ends
    * with `mmrall` (query_id, rnk, neighbor_id, score, sim).
    */
  private def mmrGreedyCte: String = {
    import graft.operators.Knn.{DefaultK, MmrLambda}
    val lam = MmrLambda
    val sb = new StringBuilder
    sb.append(s""",
      mpair AS MATERIALIZED (SELECT a.query_id, a.neighbor_id AS d,
                  b.neighbor_id AS s,
                  ROUND(list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm), 6) AS psim
                FROM mcand a JOIN mcand b
                  ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id
                JOIN n na ON na.vec_id = a.neighbor_id
                JOIN n nb ON nb.vec_id = b.neighbor_id),
      msel_all1 AS MATERIALIZED (SELECT query_id, neighbor_id,
                  CAST(1 AS BIGINT) AS rnk,
                  ROUND($lam * sim, 6) AS score, sim
                FROM (SELECT query_id, neighbor_id, sim,
                        ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY sim DESC, neighbor_id) AS rk
                      FROM mcand) t WHERE rk = 1)""")
    for (i <- 2 to DefaultK) {
      sb.append(s""",
      msel$i AS MATERIALIZED (
        SELECT query_id, neighbor_id, CAST($i AS BIGINT) AS rnk, score, sim
        FROM (SELECT c.query_id, c.neighbor_id,
                ROUND($lam * c.sim - ${1 - lam} * p.maxpen, 6) AS score, c.sim,
                ROW_NUMBER() OVER (PARTITION BY c.query_id
                  ORDER BY ROUND($lam * c.sim - ${1 - lam} * p.maxpen, 6) DESC,
                    c.neighbor_id) AS rk
              FROM mcand c
              JOIN (SELECT pr.query_id, pr.d, MAX(pr.psim) AS maxpen
                    FROM mpair pr JOIN msel_all${i - 1} s
                      ON s.query_id = pr.query_id AND s.neighbor_id = pr.s
                    GROUP BY pr.query_id, pr.d) p
                ON p.query_id = c.query_id AND p.d = c.neighbor_id
              LEFT JOIN msel_all${i - 1} sp
                ON sp.query_id = c.query_id AND sp.neighbor_id = c.neighbor_id
              WHERE sp.neighbor_id IS NULL) t WHERE rk = 1)""")
      sb.append(s""",
      msel_all$i AS MATERIALIZED (SELECT * FROM msel_all${i - 1}
        UNION ALL SELECT * FROM msel$i)""")
    }
    sb.toString + s""",
      mmrall AS (SELECT * FROM msel_all$DefaultK)"""
  }

  /** Exact L2 top-5 (the recall reference for the PQ paths); assumes
    * `n` in scope. Ends with `exl2` (query_id, neighbor_id).
    */
  /** The normalized Hadamard rotation as unrolled SQL: replays Spark's
    * 6-stage butterfly (Knn.withHadamard) stage by stage — each stage
    * is 2-term integer-indexed arithmetic both engines compute
    * bit-equally, and the stage order fixes the fp summation order.
    * Output CTE `nrot` = rotated vectors, consumed by pqCteBody.
    */
  private def opqRotCte: String = s"""
      nr0 AS (SELECT vec_id, v FROM n),
      ${(0 until 6).map { s =>
        val bit = 1 << s
        s"""nr${s + 1} AS (SELECT vec_id,
           list_transform(generate_series(1, 64), i ->
             CASE WHEN ((i - 1) & $bit) = 0 THEN v[i] + v[i + $bit]
                  ELSE v[i - $bit] - v[i] END) AS v
         FROM nr$s)"""
      }.mkString(",\n      ")},
      nrot AS (SELECT vec_id, list_transform(v, x -> x / 8.0) AS v FROM nr6)"""

  /** The learned balanced-allocation permutation (Knn.opqLearnedPerm)
    * replayed in SQL: integer variance proxies n·Σq² − (Σq)² per dim
    * over the vec_id<500 prefix (q = round(x·1000) — the engine's
    * exact quantization), rank desc with dim tiebreak, snake-deal
    * ranks across the M subspaces, rebuild each vector in permuted
    * order. Output CTE `nperm`, consumed by pqCteBody.
    */
  private def opqPermCte: String = {
    import graft.operators.Knn.PqSubspaces
    val dsub = 64 / PqSubspaces
    s"""
      pvz AS (SELECT di.di, CAST(ROUND(t.v[di.di] * 1000, 0) AS BIGINT) AS q
              FROM (SELECT v FROM n WHERE vec_id < 500) t
              CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS di) di),
      pvar AS (SELECT di, COUNT(*) AS cnt, SUM(q) AS s1, SUM(q * q) AS s2
               FROM pvz GROUP BY di),
      prk AS (SELECT di, ROW_NUMBER() OVER (
                ORDER BY (cnt * s2 - s1 * s1) DESC, di ASC) - 1 AS r
              FROM pvar),
      pmap AS (SELECT di AS src,
                 (CASE WHEN (r // $PqSubspaces) % 2 = 0 THEN r % $PqSubspaces
                       ELSE ${PqSubspaces - 1} - (r % $PqSubspaces) END) * $dsub
                   + (r // $PqSubspaces) + 1 AS dst
               FROM prk),
      nperm AS (SELECT n.vec_id, list(n.v[p.src] ORDER BY p.dst) AS v
                FROM n CROSS JOIN pmap p GROUP BY n.vec_id)"""
  }

  /** Binary-quantized sign codes + Hamming candidate ranking — replays
    * Knn.bqWordCol/vBq: two positive 32-bit sign words per vector (one
    * word would need 1<<63, which DuckDB's checked shift rejects),
    * Hamming via integer xor + bit_count (exact on both engines), top-R
    * candidates tie-broken on neighbor_id.
    */
  private def bqCte: String = s"""
      bqp AS (SELECT vec_id, v, unnest(generate_series(1, 64)) AS i FROM n),
      bq AS (SELECT vec_id,
               bit_or(CASE WHEN i <= 32 AND v[i] > 0
                 THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END) AS code_lo,
               bit_or(CASE WHEN i > 32 AND v[i] > 0
                 THEN (1::BIGINT << (i - 33)) ELSE 0::BIGINT END) AS code_hi
             FROM bqp GROUP BY vec_id),
      bham AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 CAST(bit_count(xor(c.code_lo, q.code_lo))
                   + bit_count(xor(c.code_hi, q.code_hi)) AS BIGINT) AS hamming
               FROM bq c CROSS JOIN (SELECT * FROM bq WHERE vec_id < 10) q
               WHERE c.vec_id <> q.vec_id),
      bcand AS (SELECT query_id, neighbor_id, hamming FROM (
                  SELECT query_id, neighbor_id, hamming,
                    ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY hamming ASC, neighbor_id ASC) AS hrnk
                  FROM bham) t WHERE hrnk <= 20),
      brr AS (SELECT c.query_id, c.neighbor_id, c.hamming,
                ROUND(list_dot_product(qn.v, nn.v) / (qn.nrm * nn.nrm), 6) AS sim
              FROM bcand c
              JOIN n qn ON qn.vec_id = c.query_id
              JOIN n nn ON nn.vec_id = c.neighbor_id),
      btop AS (SELECT query_id, neighbor_id, hamming, sim,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY sim DESC, neighbor_id ASC) AS BIGINT) AS rnk
               FROM brr)"""

  private def exactL2Cte: String = """
      exl2_s AS (SELECT q2.vec_id AS query_id, n.vec_id AS neighbor_id,
                   ROUND(sqrt(GREATEST(q2.nrm * q2.nrm + n.nrm * n.nrm
                     - 2.0 * list_dot_product(q2.v, n.v), 0.0)), 6) AS dist
                 FROM n CROSS JOIN (SELECT * FROM n WHERE vec_id < 10) q2
                 WHERE n.vec_id <> q2.vec_id),
      exl2 AS (SELECT query_id, neighbor_id FROM (
                 SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY dist ASC, neighbor_id) AS rnk
                 FROM exl2_s) t WHERE rnk <= 5)"""

  val vector: Map[String, String] = Map(
    "v_mmr" -> s"""
      WITH $normsCte, $mmrCte
      SELECT query_id, rnk, neighbor_id, score, sim FROM mmrall
      ORDER BY query_id, rnk""",

    "v_pq" -> s"""
      WITH $normsCte, ${pqCteBody()}
      SELECT query_id, rnk, neighbor_id, adc_dist FROM pqtop
      ORDER BY query_id, rnk""",

    // OPQ-style rotated PQ: the normalized Hadamard rotation replays
    // Spark's 6-stage BUTTERFLY (Knn.withHadamard) stage by stage —
    // each stage is 2-term integer-indexed arithmetic both engines
    // compute bit-equally, and the stage order fixes the fp summation
    // order. Everything downstream is the standard PQ replay over the
    // rotated frame (pqCteBody parameterized by source).
    "v_opq" -> s"""
      WITH $normsCte, $opqRotCte,
      ${pqCteBody("nrot")}
      SELECT query_id, rnk, neighbor_id, adc_dist FROM pqtop
      ORDER BY query_id, rnk""",

    "v_opq_recall" -> s"""
      WITH $normsCte, $opqRotCte,
      ${pqCteBody("nrot")}, $exactL2Cte
      SELECT e.query_id,
        CAST(COUNT(p.neighbor_id) AS BIGINT) AS hits,
        ROUND(COUNT(p.neighbor_id) / 5.0, 6) AS recall
      FROM exl2 e LEFT JOIN pqtop p
        ON p.query_id = e.query_id AND p.neighbor_id = e.neighbor_id
      GROUP BY e.query_id ORDER BY e.query_id""",

    // LEARNED OPQ transform (balanced variance allocation): the
    // permutation TRAINING itself is replayed — integer variance
    // proxies, rank, snake assignment — then the standard PQ replay
    // over the permuted frame
    "v_opq_learned" -> s"""
      WITH $normsCte, $opqPermCte,
      ${pqCteBody("nperm")}
      SELECT query_id, rnk, neighbor_id, adc_dist FROM pqtop
      ORDER BY query_id, rnk""",

    "v_opq_learned_recall" -> s"""
      WITH $normsCte, $opqPermCte,
      ${pqCteBody("nperm")}, $exactL2Cte
      SELECT e.query_id,
        CAST(COUNT(p.neighbor_id) AS BIGINT) AS hits,
        ROUND(COUNT(p.neighbor_id) / 5.0, 6) AS recall
      FROM exl2 e LEFT JOIN pqtop p
        ON p.query_id = e.query_id AND p.neighbor_id = e.neighbor_id
      GROUP BY e.query_id ORDER BY e.query_id""",

    // Matryoshka prefix search: coarse cosine over dims 1-16 with
    // PREFIX norms (each nesting level normalized at its own length),
    // top-20 candidates, exact full-dim rerank — both phases replayed
    // (mrlCte ends with mrer = query_id, neighbor_id, psim, sim).
    "v_matryoshka" -> s"""
      WITH $normsCte, $mrlCte,
      mr2 AS (SELECT query_id, neighbor_id, psim, sim,
              CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
            FROM mrer)
      SELECT query_id, rnk, neighbor_id, psim, sim FROM mr2 WHERE rnk <= 5
      ORDER BY query_id, rnk""",

    "v_matryoshka_recall" -> s"""
      WITH $knnCte, $mrlCte,
      mtop AS (SELECT query_id, neighbor_id FROM (
              SELECT query_id, neighbor_id,
                ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY sim DESC, neighbor_id) AS rnk
              FROM mrer) t WHERE rnk <= 5)
      SELECT t.query_id,
        CAST(COUNT(m.neighbor_id) AS BIGINT) AS hits,
        ROUND(COUNT(m.neighbor_id) / 5.0, 6) AS recall
      FROM top5 t LEFT JOIN mtop m
        ON m.query_id = t.query_id AND m.neighbor_id = t.neighbor_id
      GROUP BY t.query_id ORDER BY t.query_id""",

    "v_bq" -> s"""
      WITH $normsCte, $bqCte
      SELECT query_id, rnk, neighbor_id, hamming, sim
      FROM btop WHERE rnk <= 5 ORDER BY query_id, rnk""",

    "v_bq_recall" -> s"""
      WITH $normsCte, $bqCte,
      ex_s AS (SELECT q2.query_id, n.vec_id AS neighbor_id,
                 ROUND(list_dot_product(q2.qv, n.v) / (q2.qn * n.nrm), 6) AS sim
               FROM n CROSS JOIN (SELECT vec_id AS query_id, v AS qv, nrm AS qn
                                  FROM n WHERE vec_id < 10) q2
               WHERE n.vec_id <> q2.query_id),
      ex5 AS (SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, neighbor_id) AS rnk
                FROM ex_s) t WHERE rnk <= 5)
      SELECT e.query_id,
        CAST(COUNT(b.neighbor_id) AS BIGINT) AS hits,
        ROUND(COUNT(b.neighbor_id) / 5.0, 6) AS recall
      FROM ex5 e LEFT JOIN (SELECT query_id, neighbor_id FROM btop WHERE rnk <= 5) b
        ON b.query_id = e.query_id AND b.neighbor_id = e.neighbor_id
      GROUP BY e.query_id ORDER BY e.query_id""",

    // multi-index Hamming radius search: the oracle BRUTE-FORCES the
    // radius contract over every (query, corpus) pair — the engine
    // prunes with the 8-block pigeonhole index, so hash equality
    // proves the pruning lossless. Queries are the first 10 codes
    // with 5 deterministic bit flips (positions (id + 13j) mod 64).
    "v_bq_range" -> s"""
      WITH $normsCte,
      rqp AS (SELECT vec_id, v, unnest(generate_series(1, 64)) AS i FROM n),
      rbq AS (SELECT vec_id,
               bit_or(CASE WHEN i <= 32 AND v[i] > 0
                 THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END) AS code_lo,
               bit_or(CASE WHEN i > 32 AND v[i] > 0
                 THEN (1::BIGINT << (i - 33)) ELSE 0::BIGINT END) AS code_hi
             FROM rqp GROUP BY vec_id),
      rmsk AS (SELECT vec_id AS query_id,
                bit_or(CASE WHEN (vec_id + 13 * j) % 64 < 32
                  THEN (1::BIGINT << CAST((vec_id + 13 * j) % 64 AS INT))
                  ELSE 0::BIGINT END) AS m_lo,
                bit_or(CASE WHEN (vec_id + 13 * j) % 64 >= 32
                  THEN (1::BIGINT << (CAST((vec_id + 13 * j) % 64 AS INT) - 32))
                  ELSE 0::BIGINT END) AS m_hi
              FROM (SELECT vec_id FROM rbq WHERE vec_id < 10) rq
                CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS j) rjs
              GROUP BY vec_id),
      rqc AS (SELECT m.query_id, xor(b.code_lo, m.m_lo) AS qlo,
                xor(b.code_hi, m.m_hi) AS qhi
              FROM rbq b JOIN rmsk m ON b.vec_id = m.query_id)
      SELECT q.query_id, c.vec_id AS neighbor_id,
        CAST(bit_count(xor(c.code_lo, q.qlo))
          + bit_count(xor(c.code_hi, q.qhi)) AS BIGINT) AS hamming
      FROM rbq c CROSS JOIN rqc q
      WHERE bit_count(xor(c.code_lo, q.qlo))
          + bit_count(xor(c.code_hi, q.qhi)) <= 7
      ORDER BY query_id, neighbor_id""",

    "v_pq_recall" -> s"""
      WITH $normsCte, ${pqCteBody()}, $exactL2Cte
      SELECT e.query_id,
        CAST(COUNT(p.neighbor_id) AS BIGINT) AS hits,
        ROUND(COUNT(p.neighbor_id) / 5.0, 6) AS recall
      FROM exl2 e LEFT JOIN pqtop p
        ON p.query_id = e.query_id AND p.neighbor_id = e.neighbor_id
      GROUP BY e.query_id ORDER BY e.query_id""",

    // coarse x binary: Hamming ranking inside the probed IVF lists
    // only, exact rerank of the top-20 — candidates are duplicate-free
    // because every corpus vector lives in exactly one list
    "v_ivf_bq" -> s"""
      WITH $ivfCte, $ivfBqCte
      SELECT query_id,
        CAST(ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk,
        neighbor_id, hamming, sim
      FROM ibr QUALIFY rnk <= 5 ORDER BY query_id, rnk""",

    "v_ivf_bq_recall" -> s"""
      WITH $ivfCte, $ivfBqCte,
      ibtop AS (SELECT query_id, neighbor_id FROM (
                  SELECT query_id, neighbor_id,
                    ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY sim DESC, neighbor_id) AS rnk
                  FROM ibr) t WHERE rnk <= 5),
      ibex_s AS (SELECT q2.query_id, n.vec_id AS neighbor_id,
                   ROUND(list_dot_product(q2.qv, n.v) / (q2.qn * n.nrm), 6) AS sim
                 FROM n CROSS JOIN (SELECT vec_id AS query_id, v AS qv, nrm AS qn
                                    FROM n WHERE vec_id < 10) q2
                 WHERE n.vec_id <> q2.query_id),
      ibex5 AS (SELECT query_id, neighbor_id FROM (
                  SELECT query_id, neighbor_id,
                    ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY sim DESC, neighbor_id) AS rnk
                  FROM ibex_s) t WHERE rnk <= 5)
      SELECT e.query_id,
        CAST(COUNT(b.neighbor_id) AS BIGINT) AS hits,
        ROUND(COUNT(b.neighbor_id) / 5.0, 6) AS recall
      FROM ibex5 e LEFT JOIN ibtop b
        ON b.query_id = e.query_id AND b.neighbor_id = e.neighbor_id
      GROUP BY e.query_id ORDER BY e.query_id""",

    "v_ivf_pq" -> s"""
      WITH $ivfCte, ${pqCteBody()},
      ipcand AS (SELECT p.query_id AS cq, a.vec_id AS cv
                 FROM ivfprobe p JOIN ivfasg a
                   ON a.cid = p.pcid AND a.vec_id <> p.query_id),
      ipscore AS (SELECT t.query_id, c.cv AS vec_id,
                ROUND(sqrt(list_reduce(list(t.d2 ORDER BY t.m), (a, b) -> a + b)), 6)
                  AS adc_dist
              FROM pcodes pc
                JOIN ipcand c ON pc.vec_id = c.cv
                JOIN pdt t ON t.query_id = c.cq AND t.m = pc.m AND t.k = pc.code
              GROUP BY t.query_id, c.cv),
      iptop AS (SELECT query_id, vec_id AS neighbor_id, adc_dist,
                CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY adc_dist ASC, vec_id ASC) AS BIGINT) AS rnk
              FROM ipscore QUALIFY rnk <= 5)
      SELECT query_id, rnk, neighbor_id, adc_dist FROM iptop
      ORDER BY query_id, rnk""",

    "v_ivf_pq_recall" -> s"""
      WITH $ivfCte, ${pqCteBody()}, $exactL2Cte,
      ipcand AS (SELECT p.query_id AS cq, a.vec_id AS cv
                 FROM ivfprobe p JOIN ivfasg a
                   ON a.cid = p.pcid AND a.vec_id <> p.query_id),
      ipscore AS (SELECT t.query_id, c.cv AS vec_id,
                ROUND(sqrt(list_reduce(list(t.d2 ORDER BY t.m), (a, b) -> a + b)), 6)
                  AS adc_dist
              FROM pcodes pc
                JOIN ipcand c ON pc.vec_id = c.cv
                JOIN pdt t ON t.query_id = c.cq AND t.m = pc.m AND t.k = pc.code
              GROUP BY t.query_id, c.cv),
      iptop AS (SELECT query_id, vec_id AS neighbor_id
              FROM (SELECT query_id, vec_id,
                      ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY adc_dist ASC, vec_id ASC) AS rnk
                    FROM ipscore) t WHERE rnk <= 5)
      SELECT e.query_id,
        CAST(COUNT(p.neighbor_id) AS BIGINT) AS hits,
        ROUND(COUNT(p.neighbor_id) / 5.0, 6) AS recall
      FROM exl2 e LEFT JOIN iptop p
        ON p.query_id = e.query_id AND p.neighbor_id = e.neighbor_id
      GROUP BY e.query_id ORDER BY e.query_id""",

    // residual IVF-PQ: PQ training replayed on the RESIDUAL source
    // (v − assigned centroid), ADC tables per (query, probed list)
    // from the query's residual against that list's centroid. centf /
    // nres are MATERIALIZED: cent3 gains two extra consumers here and
    // DuckDB inlines CTEs per reference (a 4×-replayed Lloyd chain
    // otherwise; see the CTE-materialization gotcha).
    "v_ivf_pq_res" -> s"""
      WITH $ivfCte, $ivfPqResCte,
      rtop AS (SELECT query_id, vec_id AS neighbor_id, adc_dist,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY adc_dist ASC, vec_id ASC) AS BIGINT) AS rnk
               FROM rscore QUALIFY rnk <= 5)
      SELECT query_id, rnk, neighbor_id, adc_dist FROM rtop
      ORDER BY query_id, rnk""",

    "v_ivf_pq_res_recall" -> s"""
      WITH $ivfCte, ${pqCteBody()}, $ivfPqResCte, $exactL2Cte,
      rtop AS (SELECT query_id, vec_id AS neighbor_id FROM (
                 SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY adc_dist ASC, vec_id ASC) AS rnk
                 FROM rscore) t WHERE rnk <= 5),
      ipcand2 AS (SELECT p.query_id AS cq, a.vec_id AS cv
                  FROM ivfprobe p JOIN ivfasg a
                    ON a.cid = p.pcid AND a.vec_id <> p.query_id),
      ipscore2 AS (SELECT t.query_id, c.cv AS vec_id,
                ROUND(sqrt(list_reduce(list(t.d2 ORDER BY t.m), (a, b) -> a + b)), 6)
                  AS adc_dist
              FROM pcodes pc
                JOIN ipcand2 c ON pc.vec_id = c.cv
                JOIN pdt t ON t.query_id = c.cq AND t.m = pc.m AND t.k = pc.code
              GROUP BY t.query_id, c.cv),
      rawtop AS (SELECT query_id, vec_id AS neighbor_id FROM (
                   SELECT query_id, vec_id,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY adc_dist ASC, vec_id ASC) AS rnk
                   FROM ipscore2) t WHERE rnk <= 5)
      SELECT e.query_id,
        CAST(COUNT(r.neighbor_id) AS BIGINT) AS hits,
        ROUND(COUNT(r.neighbor_id) / 5.0, 6) AS recall,
        CAST(COUNT(w.neighbor_id) AS BIGINT) AS raw_hits
      FROM exl2 e
        LEFT JOIN rtop r
          ON r.query_id = e.query_id AND r.neighbor_id = e.neighbor_id
        LEFT JOIN rawtop w
          ON w.query_id = e.query_id AND w.neighbor_id = e.neighbor_id
      GROUP BY e.query_id ORDER BY e.query_id""",

    "v_ivf" -> s"""
      WITH $ivfCte
      SELECT query_id, rnk, neighbor_id, sim FROM ivftop ORDER BY query_id, rnk""",

    "v_ivf_recall" -> s"""
      WITH $ivfCte,
      ex_s AS (SELECT q2.query_id, n.vec_id AS neighbor_id,
                 ROUND(list_dot_product(q2.qv, n.v) / (q2.qn * n.nrm), 6) AS sim
               FROM n CROSS JOIN ivfq q2 WHERE n.vec_id <> q2.query_id),
      ex5 AS (SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, neighbor_id) AS rnk
                FROM ex_s) t WHERE rnk <= 5)
      SELECT e.query_id,
        CAST(COUNT(i.neighbor_id) AS BIGINT) AS hits,
        ROUND(COUNT(i.neighbor_id) / 5.0, 6) AS recall
      FROM ex5 e LEFT JOIN ivftop i
        ON i.query_id = e.query_id AND i.neighbor_id = e.neighbor_id
      GROUP BY e.query_id ORDER BY e.query_id""",
    "v_norm" -> """
      SELECT vec_id, label,
        ROUND(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS nrm,
        CAST(len(embedding) AS BIGINT) AS dim
      FROM embeddings ORDER BY vec_id""",

    "v_knn_exact" -> s"""
      WITH $knnCte
      SELECT query_id, rnk, neighbor_id, sim FROM top5 ORDER BY query_id, rnk""",

    // identical semantics through the custom CosineTopK operator — a
    // hash match against the same SQL proves the whole-operator path
    "v_knn_custom" -> s"""
      WITH $knnCte
      SELECT query_id, rnk, neighbor_id, sim FROM top5 ORDER BY query_id, rnk""",

    "v_knn_meta" -> s"""
      WITH $knnCte,
      m AS (SELECT e2.vec_id AS mid, e2.label, d.lang, d.source
            FROM embeddings e2 LEFT JOIN documents d ON e2.vec_id = d.doc_id)
      SELECT query_id, rnk, neighbor_id, sim, label, lang, source
      FROM top5 JOIN m ON neighbor_id = mid
      ORDER BY query_id, rnk""",

    "v_knn_classify" -> s"""
      WITH $knnCte
      SELECT query_id, pred_label, votes FROM (
        SELECT query_id, em.label AS pred_label, COUNT(*) AS votes,
          ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY COUNT(*) DESC, em.label ASC) AS rn
        FROM top5 JOIN embeddings em ON em.vec_id = neighbor_id
        GROUP BY query_id, em.label) t
      WHERE rn = 1 ORDER BY query_id""",

    "v_pairs_near" -> s"""
      WITH $normsCte
      SELECT a.vec_id AS id1, b.vec_id AS id2,
        ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS sim
      FROM n a JOIN n b ON a.vec_id < b.vec_id
      ORDER BY sim DESC, id1 ASC, id2 ASC LIMIT 100""",

    "v_ann_lsh" -> s"""
      WITH $lshBandsCte,
      q AS (SELECT b.vec_id AS query_id, b.band0 AS qb0, b.band1 AS qb1,
              n.v AS qv, n.nrm AS qn
            FROM bands b JOIN n ON n.vec_id = b.vec_id WHERE b.vec_id < 10),
      cand AS (SELECT query_id, qv, qn, b.vec_id AS neighbor_id
               FROM q JOIN bands b
                 ON b.vec_id <> query_id AND (b.band0 = qb0 OR b.band1 = qb1)),
      s AS (SELECT query_id, neighbor_id,
              ROUND(list_dot_product(qv, y.v) / (qn * y.nrm), 6) AS sim
            FROM cand JOIN n y ON y.vec_id = neighbor_id),
      r AS (SELECT query_id, neighbor_id, sim,
              CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
            FROM s)
      SELECT query_id, rnk, neighbor_id, sim FROM r WHERE rnk <= 3
      ORDER BY query_id, rnk""",

    "v_sql_surface" -> """
      SELECT a.vec_id AS id1, b.vec_id AS id2,
        ROUND(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS dot
      FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
      WHERE a.vec_id < 50
      ORDER BY id1""",

    "v_recall" -> s"""
      WITH $lshBandsCte,
      q AS (SELECT b.vec_id AS query_id, b.band0 AS qb0, b.band1 AS qb1,
              n.v AS qv, n.nrm AS qn
            FROM bands b JOIN n ON n.vec_id = b.vec_id WHERE b.vec_id < 10),
      cand AS (SELECT query_id, qv, qn, b.vec_id AS neighbor_id
               FROM q JOIN bands b
                 ON b.vec_id <> query_id AND (b.band0 = qb0 OR b.band1 = qb1)),
      s AS (SELECT query_id, neighbor_id,
              ROUND(list_dot_product(qv, y.v) / (qn * y.nrm), 6) AS sim
            FROM cand JOIN n y ON y.vec_id = neighbor_id),
      r AS (SELECT query_id, neighbor_id,
              ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY sim DESC, neighbor_id) AS rnk
            FROM s),
      lsh3 AS (SELECT query_id, neighbor_id FROM r WHERE rnk <= 3),
      ex_s AS (SELECT q2.query_id, n.vec_id AS neighbor_id,
                 ROUND(list_dot_product(q2.qv, n.v) / (q2.qn * n.nrm), 6) AS sim
               FROM n CROSS JOIN (SELECT vec_id AS query_id, v AS qv, nrm AS qn
                                  FROM n WHERE vec_id < 10) q2
               WHERE n.vec_id <> q2.query_id),
      ex_r AS (SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY sim DESC, neighbor_id) AS rnk
               FROM ex_s),
      ex3 AS (SELECT query_id, neighbor_id FROM ex_r WHERE rnk <= 3)
      SELECT e.query_id,
        CAST(COUNT(l.neighbor_id) AS BIGINT) AS hits,
        ROUND(COUNT(l.neighbor_id) / 3.0, 6) AS recall
      FROM ex3 e LEFT JOIN lsh3 l
        ON l.query_id = e.query_id AND l.neighbor_id = e.neighbor_id
      GROUP BY e.query_id ORDER BY e.query_id""",

    "v_range_search" -> s"""
      WITH $normsCte,
      q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10)
      SELECT query_id, vec_id AS neighbor_id,
        ROUND(list_dot_product(qv, v) / (qn * nrm), 6) AS sim
      FROM n CROSS JOIN q
      WHERE vec_id <> query_id
        AND ROUND(list_dot_product(qv, v) / (qn * nrm), 6) >= 0.2
      ORDER BY query_id, sim DESC, neighbor_id""",

    "v_knn_l2" -> s"""
      WITH $normsCte,
      q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
      s AS (SELECT query_id, vec_id AS neighbor_id,
              ROUND(sqrt(GREATEST(
                qn * qn + nrm * nrm - 2.0 * list_dot_product(qv, v), 0.0)), 6) AS dist
            FROM n CROSS JOIN q WHERE vec_id <> query_id),
      r AS (SELECT query_id, neighbor_id, dist,
              CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY dist ASC, neighbor_id) AS BIGINT) AS rnk
            FROM s)
      SELECT query_id, rnk, neighbor_id, dist FROM r WHERE rnk <= 5
      ORDER BY query_id, rnk""",

    "v_centroid_label" -> """
      WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
      dims AS (SELECT unnest(generate_series(1, 64)) AS d),
      expl AS (SELECT label, d, CAST(ROUND(v[d] * 1000, 0) AS BIGINT) AS qv
               FROM e CROSS JOIN dims),
      sums AS (SELECT label, d, SUM(qv) AS s, COUNT(*) AS n FROM expl GROUP BY label, d),
      cent AS (SELECT label, d, s / (1000.0 * n) AS c, n FROM sums)
      SELECT label, MAX(n) AS n_vectors, ROUND(sqrt(SUM(c * c)), 6) AS centroid_norm
      FROM cent GROUP BY label ORDER BY label"""
  )

  val dedup: Map[String, String] = Map(
    // cluster-balanced selection: IVF assignment replayed (ivfCte),
    // per-cluster top-cap by (n_chars DESC, doc_id ASC) as a window —
    // proving the engine's map-side TopKAgg heap exact
    "d_cluster_sample" -> s"""
      WITH $ivfCte,
      dca AS (SELECT a.vec_id AS doc_id, a.cid, d.n_chars
              FROM ivfasg a JOIN documents d ON d.doc_id = a.vec_id),
      dct AS (SELECT cid, COUNT(*) AS n_total FROM dca GROUP BY cid),
      dck AS (SELECT cid, doc_id, n_chars,
                ROW_NUMBER() OVER (PARTITION BY cid
                  ORDER BY n_chars DESC, doc_id ASC) AS rnk
              FROM dca)
      SELECT k.cid, t.n_total, CAST(k.rnk AS BIGINT) AS rnk, k.doc_id,
        k.n_chars
      FROM dck k JOIN dct t ON t.cid = k.cid
      WHERE k.rnk <= ${graft.operators.Dedup.ClusterCap}
      ORDER BY k.cid, k.rnk""",

    // edit-distance verification of the sketch's STRONG claims
    // (estimate ≥ 0.75): identical classic Levenshtein both engines,
    // unrounded relative filter; the engine's length-difference prune
    // is result-neutral (levenshtein ≥ |len diff|) so it's absent here
    "d_edit_near" -> s"""
      WITH $bandPairsCte,
      hi AS (SELECT doc1, doc2 FROM (
               SELECT doc1, doc2,
                 SUM(CASE WHEN m1.mh = m2.mh THEN 1 ELSE 0 END) / 16.0 AS je
               FROM pairs JOIN mh m1 ON m1.doc_id = doc1
               JOIN mh m2 ON m2.doc_id = doc2 AND m2.perm_id = m1.perm_id
               GROUP BY doc1, doc2) z WHERE je >= 0.75),
      tx AS (SELECT doc_id, text FROM documents),
      ed AS (SELECT doc1, doc2,
               CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
               CAST(GREATEST(length(a.text), length(b.text)) AS BIGINT) AS max_len
             FROM hi JOIN tx a ON a.doc_id = doc1
               JOIN tx b ON b.doc_id = doc2)
      SELECT doc1, doc2, edit_dist, max_len,
        ROUND(edit_dist / CAST(max_len AS DOUBLE), 6) AS rel_dist
      FROM ed WHERE edit_dist / CAST(max_len AS DOUBLE) <= 0.4
      ORDER BY doc1, doc2""",

    // MinHash estimator error gate: banded candidates, 16-perm
    // estimate vs exact distinct-shingle Jaccard, ×10⁶-quantized
    // integer error sum (order-free); mean bounded at 0.25 — banding
    // selects pairs whose bands collide, biasing estimates up
    // (observed ≈ 0.17 at every sf)
    "d_minhash_err" -> s"""
      WITH $bandPairsCte,
      est AS (SELECT doc1, doc2,
                SUM(CASE WHEN m1.mh = m2.mh THEN 1 ELSE 0 END) / 16.0 AS jacc_est
              FROM pairs JOIN mh m1 ON m1.doc_id = doc1
              JOIN mh m2 ON m2.doc_id = doc2 AND m2.perm_id = m1.perm_id
              GROUP BY doc1, doc2),
      shd AS (SELECT doc_id, list(DISTINCT h) AS hs FROM sh GROUP BY doc_id),
      ex AS (SELECT e.doc1, e.doc2, e.jacc_est,
               len(list_intersect(a.hs, b.hs)) /
                 CAST(len(list_distinct(a.hs || b.hs)) AS DOUBLE) AS jacc_exact
             FROM est e JOIN shd a ON a.doc_id = e.doc1
               JOIN shd b ON b.doc_id = e.doc2),
      agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
                CAST(SUM(ABS(CAST(ROUND(jacc_est * 1000000, 0) AS BIGINT) -
                  CAST(ROUND(jacc_exact * 1000000, 0) AS BIGINT))) AS BIGINT)
                  AS abs_err_1e6
              FROM ex)
      SELECT n_pairs, abs_err_1e6,
        ROUND(abs_err_1e6 / n_pairs / 1000000.0, 6) AS avg_abs_err,
        abs_err_1e6 / n_pairs / 1000000.0 <= 0.25 AS within_bound
      FROM agg""",

    // URL-canonicalization dedup: derives the identical messy URL
    // from (doc_id, source), then replays every canonicalizer step
    // with split-at-delimiter parsing (no regex, no backslashes)
    "d_url_dedup" -> """
      WITH u AS (SELECT doc_id,
          (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTP' END) || '://' ||
          (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
          source || '.Example.COM' ||
          '/docs/' || (doc_id % 50) ||
          (CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END) ||
          (CASE WHEN doc_id % 2 = 0 AND doc_id % 5 = 0
                  THEN '?utm_source=feed&page=' || (doc_id % 3)
                WHEN doc_id % 2 = 0
                  THEN '?utm_source=feed&utm_campaign=c' || (doc_id % 4)
                WHEN doc_id % 5 = 0 THEN '?page=' || (doc_id % 3)
                ELSE '' END) ||
          (CASE WHEN doc_id % 3 = 1 THEN '#sec' || (doc_id % 4) ELSE '' END)
            AS url
        FROM documents),
      p2 AS (SELECT doc_id,
               split_part(split_part(url, '#', 1), '://', 2) AS body FROM u),
      p3 AS (SELECT doc_id, body,
               lower(split_part(body, '/', 1)) AS host0 FROM p2),
      p4 AS (SELECT doc_id,
               CASE WHEN starts_with(host0, 'www.') THEN substr(host0, 5)
                 ELSE host0 END AS host,
               substr(body, length(host0) + 1) AS tail FROM p3),
      p5 AS (SELECT doc_id, host, tail,
               split_part(tail, '?', 1) AS path0 FROM p4),
      p6 AS (SELECT doc_id, host, path0,
               CASE WHEN length(tail) > length(path0)
                 THEN substr(tail, length(path0) + 2) ELSE '' END AS query
             FROM p5),
      p7 AS (SELECT doc_id, host, path0,
               -- array_to_string([]) is NULL in DuckDB, '' in Spark
               coalesce(array_to_string(list_sort(list_filter(
                 string_split(query, '&'),
                 p -> p <> '' AND NOT starts_with(p, 'utm_'))), '&'), '')
                 AS params
             FROM p6),
      canon AS (SELECT doc_id,
          'https://' || host ||
          (CASE WHEN path0 <> '/' AND ends_with(path0, '/')
                THEN substr(path0, 1, length(path0) - 1) ELSE path0 END) ||
          (CASE WHEN params = '' THEN '' ELSE '?' || params END)
            AS canonical_url
        FROM p7)
      SELECT canonical_url, COUNT(*) AS n_docs, MIN(doc_id) AS keep_doc_id
      FROM canon GROUP BY canonical_url ORDER BY canonical_url""",

    // Bloom-filter membership: replays Dedup.dBloom — m = 16n bits,
    // k = 4 double-hashed md5 probes, 32-bit words (1 << 63 would
    // overflow-check here), cohort gates computed by the same SQL
    "d_bloom" -> """
      WITH ins AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
      par AS (SELECT CAST(COUNT(*) AS BIGINT) AS nins FROM ins),
      mb AS (SELECT 32 * ((16 * nins + 31) // 32) AS mbits FROM par),
      keys AS (SELECT doc_id,
                 CAST(('0x' || substr(md5('bloomA_' || text), 1, 15)) AS BIGINT)
                   % mbits AS ha,
                 CAST(('0x' || substr(md5('bloomB_' || text), 1, 15)) AS BIGINT)
                   % (mbits - 1) + 1 AS hb,
                 mbits
               FROM documents, mb),
      pos AS (SELECT doc_id, (ha + i * hb) % mbits AS p
              FROM keys CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) g),
      words AS (SELECT p // 32 AS word,
                  bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
                FROM pos WHERE doc_id % 5 <> 0 GROUP BY p // 32),
      hit AS (SELECT pr.doc_id,
                MIN(CASE WHEN (w.bits >> CAST(pr.p % 32 AS INT)) & 1 = 1
                    THEN 1 ELSE 0 END) AS inb
              FROM pos pr LEFT JOIN words w ON w.word = pr.p // 32
              GROUP BY pr.doc_id),
      cohorts AS (SELECT d.doc_id,
                    CASE WHEN d.doc_id % 5 <> 0 THEN 'inserted'
                      WHEN EXISTS (SELECT 1 FROM ins i WHERE i.text = d.text)
                        THEN 'dup_of_inserted'
                      ELSE 'new' END AS cohort
                  FROM documents d),
      agg AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(inb) AS BIGINT) AS hits
              FROM cohorts JOIN hit USING (doc_id) GROUP BY cohort)
      SELECT cohort, n, hits,
        ROUND(CAST(hits AS DOUBLE) / n, 6) AS hit_rate,
        CASE WHEN cohort = 'new' THEN CAST(hits AS DOUBLE) / n <= 0.02
          ELSE hits = n END AS ok
      FROM agg ORDER BY cohort""",

    // fixed-k word-span dedup: replays Dedup.dSpanDedup — distinct
    // 5-word-span md5 hashes per doc, corpus-wide occurrence count,
    // per-doc duplicated fraction
    "d_span_dedup" -> s"""
      WITH wt AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      sp0 AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS i
              FROM wt WHERE len(w) >= 5),
      sp AS (SELECT DISTINCT doc_id,
               CAST(('0x' || substr(md5(array_to_string(w[i:i+4], ' ')), 1, 15))
                 AS BIGINT) % ${H.P31} AS h
             FROM sp0),
      dup AS (SELECT h FROM sp GROUP BY h HAVING COUNT(*) >= 2)
      SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
        CAST(COUNT(d.h) AS BIGINT) AS n_dup,
        ROUND(CAST(COUNT(d.h) AS DOUBLE) / COUNT(*), 6) AS dup_frac,
        (CAST(COUNT(d.h) AS DOUBLE) / COUNT(*)) > 0.5 AS drop_flag
      FROM sp s LEFT JOIN dup d ON d.h = s.h
      GROUP BY s.doc_id ORDER BY s.doc_id""",

    // duplicated-span removal: keeper = min doc_id per dup hash keeps
    // its copy; everyone else excises every covered word position.
    // badpos expands bad starts into covered positions list-side
    // (generate_series is a scalar list in DuckDB), kept filters by
    // 1-based word index, and the md5 pins the whole rewritten text
    "d_span_excise" -> s"""
      WITH wt AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      sp0 AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS i
              FROM wt WHERE len(w) >= 5),
      sph AS (SELECT doc_id, i,
               CAST(('0x' || substr(md5(array_to_string(w[i:i+4], ' ')), 1, 15))
                 AS BIGINT) % ${H.P31} AS h
             FROM sp0),
      spd AS (SELECT DISTINCT doc_id, h FROM sph),
      dupk AS (SELECT h, MIN(doc_id) AS keeper FROM spd
               GROUP BY h HAVING COUNT(*) >= 2),
      badp AS (SELECT s.doc_id,
                 list_distinct(flatten(list(generate_series(s.i, s.i + 4)))) AS badpos
               FROM sph s JOIN dupk d ON d.h = s.h AND s.doc_id <> d.keeper
               GROUP BY s.doc_id),
      reb AS (SELECT t.doc_id, len(t.w) AS nw,
                list_filter(t.w, (x, j) ->
                  NOT list_contains(coalesce(b.badpos, []), j)) AS kept
              FROM wt t LEFT JOIN badp b ON b.doc_id = t.doc_id)
      SELECT doc_id, CAST(nw AS BIGINT) AS n_words,
        CAST(nw - len(kept) AS BIGINT) AS n_removed,
        md5(coalesce(array_to_string(kept, ' '), '')) AS text_md5
      FROM reb ORDER BY doc_id""",

    // per-source frequency cap: Spark's two-phase salted selection is
    // provably equal to this single window (phase 1 keeps a superset)
    "d_source_cap" -> """
      WITH r AS (SELECT doc_id, source,
               CAST(('0x' || substr(md5('cap_' || doc_id), 1, 15)) AS BIGINT) AS ord
             FROM documents),
      k AS (SELECT doc_id, source,
              CAST(ROW_NUMBER() OVER (PARTITION BY source
                ORDER BY ord, doc_id) AS BIGINT) AS keep_rank
            FROM r)
      SELECT doc_id, source, keep_rank FROM k
      WHERE keep_rank <= 15 ORDER BY doc_id""",

    "d_exact" -> """
      SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        COUNT(*) AS n_docs, MIN(doc_id) AS keep_doc_id
      FROM documents GROUP BY fp ORDER BY keep_doc_id""",

    "d_minhash" -> s"""
      WITH $minhashCte
      SELECT doc_id, perm_id, mh FROM mh ORDER BY doc_id, perm_id""",

    "d_minhash_pairs" -> s"""
      WITH $bandPairsCte
      SELECT doc1, doc2,
        SUM(CASE WHEN m1.mh = m2.mh THEN 1 ELSE 0 END) / 16.0 AS jacc_est
      FROM pairs
      JOIN mh m1 ON m1.doc_id = doc1
      JOIN mh m2 ON m2.doc_id = doc2 AND m2.perm_id = m1.perm_id
      GROUP BY doc1, doc2 ORDER BY doc1, doc2""",

    "d_simhash" -> """
      WITH tk0 AS (SELECT DISTINCT doc_id, tok FROM (
               SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
               FROM documents) u
             WHERE tok <> ''),
      th AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h FROM tk0),
      js AS (SELECT unnest(generate_series(0, 31)) AS j),
      bits AS (SELECT doc_id, j,
                 CASE WHEN SUM(2 * ((h >> j) & 1) - 1) > 0 THEN 1 ELSE 0 END AS b
               FROM th CROSS JOIN js GROUP BY doc_id, j)
      SELECT doc_id, CAST(SUM(b * (1::BIGINT << j)) AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id ORDER BY doc_id""",

    "d_simhash_pairs" -> """
      WITH tk0 AS (SELECT DISTINCT doc_id, tok FROM (
               SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
               FROM documents) u
             WHERE tok <> ''),
      th AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h FROM tk0),
      js AS (SELECT unnest(generate_series(0, 31)) AS j),
      bits AS (SELECT doc_id, j,
                 CASE WHEN SUM(2 * ((h >> j) & 1) - 1) > 0 THEN 1 ELSE 0 END AS b
               FROM th CROSS JOIN js GROUP BY doc_id, j),
      sh AS (SELECT doc_id, CAST(SUM(b * (1::BIGINT << j)) AS BIGINT) AS simhash
             FROM bits GROUP BY doc_id),
      ch AS (SELECT doc_id, simhash,
               (simhash >> 0) & 255 AS c0, (simhash >> 8) & 255 AS c1,
               (simhash >> 16) & 255 AS c2, (simhash >> 24) & 255 AS c3
             FROM sh),
      cand AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2,
                 a.simhash AS s1, b.simhash AS s2
               FROM ch a JOIN ch b ON a.doc_id < b.doc_id
                AND (a.c0 = b.c0 OR a.c1 = b.c1 OR a.c2 = b.c2 OR a.c3 = b.c3))
      SELECT doc1, doc2, CAST(bit_count(xor(s1, s2)) AS BIGINT) AS hamming
      FROM cand WHERE bit_count(xor(s1, s2)) <= 8
      ORDER BY hamming ASC, doc1 ASC, doc2 ASC LIMIT 200""",

    "d_jaccard" -> s"""
      WITH $bandPairsCte,
      $tokensCte,
      tkd AS (SELECT DISTINCT doc_id, tok FROM tk),
      fallback AS (SELECT doc_id AS doc1, doc_id + 1 AS doc2 FROM documents
                   WHERE doc_id % 10 = 0),
      cands AS (SELECT doc1, doc2 FROM pairs UNION SELECT doc1, doc2 FROM fallback),
      tc AS (SELECT doc_id, COUNT(*) AS c FROM tkd GROUP BY doc_id),
      inter AS (SELECT c.doc1, c.doc2, COUNT(*) AS i
                FROM cands c
                JOIN tkd t1 ON t1.doc_id = c.doc1
                JOIN tkd t2 ON t2.doc_id = c.doc2 AND t2.tok = t1.tok
                GROUP BY c.doc1, c.doc2)
      SELECT c.doc1, c.doc2,
        COALESCE(i.i, 0) AS inter,
        a.c + b.c - COALESCE(i.i, 0) AS uni,
        COALESCE(i.i, 0) / (a.c + b.c - COALESCE(i.i, 0)) AS jaccard
      FROM cands c
      JOIN tc a ON a.doc_id = c.doc1
      JOIN tc b ON b.doc_id = c.doc2
      LEFT JOIN inter i ON i.doc1 = c.doc1 AND i.doc2 = c.doc2
      ORDER BY c.doc1, c.doc2""",

    // SemDeDup: same MULTIPROBE pairs + cosine as d_embed_near
    // (Hamming-≤1 on either band — the r10 production blocking),
    // thresholded into edges, components via recursive reachability
    // (the oracle twin of the engine's pointer-jumping loop),
    // singletons coalesced
    "d_semdedup" -> s"""
      WITH RECURSIVE $lshBandsCte,
      cand AS (SELECT a.vec_id AS id1, b.vec_id AS id2
               FROM bands a JOIN bands b
                 ON a.vec_id < b.vec_id
                AND (bit_count(xor(a.band0, b.band0)) <= 1
                  OR bit_count(xor(a.band1, b.band1)) <= 1)),
      sims AS (SELECT id1, id2,
                 ROUND(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 6) AS sim
               FROM cand JOIN n x ON x.vec_id = id1 JOIN n y ON y.vec_id = id2),
      und AS (SELECT DISTINCT id1 AS doc1, id2 AS doc2 FROM sims WHERE sim >= 0.45),
      edges AS (SELECT doc1 AS a, doc2 AS b FROM und
                UNION SELECT doc2, doc1 FROM und),
      reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      lbl AS (SELECT a AS ld, LEAST(a, MIN(b)) AS label FROM reach GROUP BY a)
      SELECT e.vec_id, COALESCE(l.label, e.vec_id) AS component,
        CAST(CASE WHEN COALESCE(l.label, e.vec_id) = e.vec_id
          THEN 1 ELSE 0 END AS BIGINT) AS is_keeper
      FROM embeddings e LEFT JOIN lbl l ON l.ld = e.vec_id
      ORDER BY e.vec_id""",

    // r10: the production blocking is the multiprobe tier — the
    // oracle states the Hamming-≤1 semantics the probe fan-out
    // reaches through equi-joins (same statement as d_embed_multiprobe)
    "d_embed_near" -> s"""
      WITH $lshBandsCte,
      cand AS (SELECT a.vec_id AS id1, b.vec_id AS id2
               FROM bands a JOIN bands b
                 ON a.vec_id < b.vec_id
                AND (bit_count(xor(a.band0, b.band0)) <= 1
                  OR bit_count(xor(a.band1, b.band1)) <= 1))
      SELECT id1, id2,
        ROUND(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 6) AS sim
      FROM cand JOIN n x ON x.vec_id = id1 JOIN n y ON y.vec_id = id2
      ORDER BY sim DESC, id1 ASC, id2 ASC LIMIT 50"""
  )

  /** Corpus bigram LM replay (TextAnalysis.docBigrams + tBigramLm):
    * whitespace tokens → bigrams → corpus-wide bigram log-probs →
    * per-doc sorted log-prob lists. Ends with `ag` (doc_id, n_bigrams,
    * lps). Plain (non-interpolated) literal — the regex backslash must
    * not pass through an s-interpolator.
    */
  private val bigramLmCte: String = """
      tk2 AS (SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\s+'),
                           t -> t <> '') AS toks
             FROM documents),
      bg AS (SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bigram
             FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
                   FROM tk2) u),
      st AS (SELECT bigram, COUNT(*) AS cnt FROM bg GROUP BY bigram),
      tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM st),
      sc AS (SELECT doc_id, bg.bigram, ln(cnt / CAST(n_total AS DOUBLE)) AS lp
             FROM bg JOIN st ON bg.bigram = st.bigram CROSS JOIN tot),
      ag AS (SELECT doc_id, COUNT(*) AS n_bigrams,
               list(lp ORDER BY bigram, lp) AS lps
             FROM sc GROUP BY doc_id)"""

  val text: Map[String, String] = Map(
    // Gopher rule set: integer token-array sums + one double division
    // per feature, written exactly as TextAnalysis.tGopherQuality
    "t_gopher_quality" -> """
      WITH tk AS (SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\s+'),
                 t -> t <> '') AS w
             FROM documents),
      f AS (SELECT doc_id,
              CAST(len(w) AS BIGINT) AS n_words,
              ROUND(CAST(list_sum(list_transform(w, t -> length(t))) AS DOUBLE)
                / len(w), 6) AS mean_wlen,
              CAST(len(list_filter(w,
                t -> t IN ('the', 'a', 'and', 'of', 'to', 'in', 'is')))
                AS BIGINT) AS stop_count,
              ROUND(CAST(len(list_filter(w,
                t -> regexp_matches(t, '^[a-z]+$'))) AS DOUBLE)
                / len(w), 6) AS alpha_frac
            FROM tk)
      SELECT doc_id, n_words, mean_wlen, stop_count, alpha_frac,
        (n_words >= 30 AND n_words <= 5000) AS flag_words,
        (mean_wlen >= 3.0 AND mean_wlen <= 10.0) AS flag_wlen,
        (stop_count >= 2) AS flag_stop,
        (alpha_frac >= 0.8) AS flag_alpha,
        (n_words >= 30 AND n_words <= 5000
          AND mean_wlen >= 3.0 AND mean_wlen <= 10.0
          AND stop_count >= 2 AND alpha_frac >= 0.8) AS keep
      FROM f ORDER BY doc_id""",

    // the r7 curation funnel: Gopher keep (rounded-feature flags, as
    // t_gopher_quality) ∘ span-dup drop (as d_span_dedup) ∘ per-source
    // cap (as d_source_cap), reported per source
    "t_curation_pipeline" -> """
      WITH gt AS (SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\s+'),
                 t -> t <> '') AS w
             FROM documents),
      gf AS (SELECT doc_id,
               CAST(len(w) AS BIGINT) AS n_words,
               ROUND(CAST(list_sum(list_transform(w, t -> length(t))) AS DOUBLE)
                 / len(w), 6) AS mean_wlen,
               CAST(len(list_filter(w,
                 t -> t IN ('the', 'a', 'and', 'of', 'to', 'in', 'is')))
                 AS BIGINT) AS stop_count,
               ROUND(CAST(len(list_filter(w,
                 t -> regexp_matches(t, '^[a-z]+$'))) AS DOUBLE)
                 / len(w), 6) AS alpha_frac
             FROM gt),
      keepq AS (SELECT doc_id,
                  (n_words >= 30 AND n_words <= 5000
                    AND mean_wlen >= 3.0 AND mean_wlen <= 10.0
                    AND stop_count >= 2 AND alpha_frac >= 0.8) AS keep
                FROM gf),
      swt AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      ssp0 AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS i
               FROM swt WHERE len(w) >= 5),
      ssp AS (SELECT DISTINCT doc_id,
                CAST(('0x' || substr(md5(array_to_string(w[i:i+4], ' ')), 1, 15))
                  AS BIGINT) % 2147483647 AS h
              FROM ssp0),
      sdup AS (SELECT h FROM ssp GROUP BY h HAVING COUNT(*) >= 2),
      sd AS (SELECT s.doc_id,
               (CAST(COUNT(d.h) AS DOUBLE) / COUNT(*)) > 0.5 AS drop_flag
             FROM ssp s LEFT JOIN sdup d ON d.h = s.h GROUP BY s.doc_id),
      st AS (SELECT dd.doc_id, dd.source,
               CAST(('0x' || substr(md5('cap_' || dd.doc_id), 1, 15)) AS BIGINT) AS ord,
               k.keep, COALESCE(sd.drop_flag, FALSE) AS dropf
             FROM documents dd
             JOIN keepq k ON k.doc_id = dd.doc_id
             LEFT JOIN sd ON sd.doc_id = dd.doc_id),
      rk AS (SELECT source,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY ord, doc_id) AS rn
             FROM st WHERE keep AND NOT dropf),
      cap AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_survive,
                CAST(SUM(CASE WHEN rn <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
              FROM rk GROUP BY source),
      base AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_quality
               FROM st GROUP BY source)
      SELECT b.source, b.n_docs, b.n_quality,
        COALESCE(c.n_survive, 0) AS n_survive,
        COALESCE(c.n_kept, 0) AS n_kept
      FROM base b LEFT JOIN cap c ON c.source = b.source
      ORDER BY b.source""",

    // feature hashing: dim = md5-hash % 32, sign = parity of the next
    // hash bit, weight = signed count — one (doc, dim) group-by
    "t_hash_embed" -> s"""
      WITH $tokensCte,
      hx AS (SELECT doc_id,
               CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h
             FROM tk)
      SELECT doc_id, h % 32 AS dim,
        CAST(SUM(CASE WHEN CAST(floor(h / 32) AS BIGINT) % 2 = 0
          THEN 1 ELSE -1 END) AS BIGINT) AS weight
      FROM hx GROUP BY doc_id, h % 32
      ORDER BY doc_id, dim""",

    "t_tokens" -> s"""
      WITH $tokensCte
      SELECT doc_id, COUNT(*) AS n_tokens, COUNT(DISTINCT tok) AS n_distinct,
        SUM(length(tok)) / COUNT(*) AS avg_token_len
      FROM tk GROUP BY doc_id ORDER BY doc_id""",

    "t_quality" -> """
      WITH f AS (SELECT doc_id, text, length(text) AS n_chars_t,
               list_filter(regexp_split_to_array(trim(text), '\s+'),
                           t -> t <> '') AS toks
             FROM documents),
      g AS (SELECT doc_id, n_chars_t,
              len(toks) AS n_toks,
              n_chars_t - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS punct,
              n_chars_t - length(regexp_replace(text, '[0-9]', '', 'g')) AS digits,
              len(list_filter(toks,
                t -> t IN ('the', 'a', 'and', 'of', 'to', 'in', 'is'))) AS stop_hits
            FROM f)
      SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks,
        stop_hits / n_toks AS stop_ratio,
        punct / n_chars_t AS punct_ratio,
        digits / n_chars_t AS digit_ratio,
        ROUND(LEAST(n_chars_t, 500) / 500.0 * 0.4
          + (stop_hits / n_toks) * 0.4
          + (1.0 - punct / n_chars_t) * 0.2, 6) AS quality
      FROM g ORDER BY doc_id""",

    "t_langid" -> {
      val vals = graft.operators.TextAnalysis.stopwords.toSeq.sortBy(_._1)
        .flatMap { case (l, ws) => ws.map(w => s"('$l', '$w')") }.mkString(", ")
      s"""
      WITH $tokensCte,
      st AS (SELECT * FROM (VALUES $vals) AS s(cand_lang, word)),
      hits AS (SELECT doc_id, cand_lang, COUNT(*) AS hits
               FROM tk JOIN st ON tok = word GROUP BY doc_id, cand_lang),
      best AS (SELECT doc_id AS hd, cand_lang, hits,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY hits DESC, cand_lang ASC) AS rn
               FROM hits)
      SELECT d.doc_id, d.lang, COALESCE(b.cand_lang, 'und') AS pred_lang,
        COALESCE(b.hits, 0) AS hits
      FROM documents d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
        ON d.doc_id = b.hd
      ORDER BY d.doc_id"""
    },

    "t_ngrams" -> """
      WITH tk2 AS (SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\s+'),
                           t -> t <> '') AS toks
             FROM documents),
      bg AS (SELECT toks[i] || ' ' || toks[i + 1] AS bigram
             FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
                   FROM tk2) u)
      SELECT bigram, COUNT(*) AS n FROM bg
      GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 20""",

    "t_rep_ngrams" -> """
      WITH tk AS (SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\s+'),
                           t -> t <> '') AS toks
             FROM documents),
      tr AS (SELECT doc_id, CAST(len(toks) - 2 AS BIGINT) AS n_tri,
               toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS tri
             FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i
                   FROM tk WHERE len(toks) >= 3) u),
      cnt AS (SELECT doc_id, n_tri, tri, COUNT(*) AS c
              FROM tr GROUP BY doc_id, n_tri, tri),
      top AS (SELECT doc_id, n_tri, MAX(c) AS top_n FROM cnt GROUP BY doc_id, n_tri)
      SELECT doc_id, n_tri, CAST(top_n AS BIGINT) AS top_n,
        ROUND(top_n / CAST(n_tri AS DOUBLE), 6) AS rep_ratio,
        top_n / CAST(n_tri AS DOUBLE) > 0.2 AS repetitive
      FROM top ORDER BY doc_id""",

    "t_fingerprint" -> s"""
      WITH $shinglesCte,
      shd AS (SELECT DISTINCT doc_id, h FROM sh),
      r AS (SELECT doc_id, h,
              CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY h ASC) AS BIGINT) AS pos
            FROM shd)
      SELECT doc_id, pos, h FROM r WHERE pos <= 4 ORDER BY doc_id, pos"""
  )

  /** The decode-fed pHash derivation (closed pixel form → separable
    * fixed-point DCT → rank-32 median), factored so the streamed
    * radius gate (s_phash_ingest) composes the brute-force radius
    * check over the same fingerprints. Ends with `pdd`/`pmd`.
    */
  private def decodePhashCte: String = {
    val basisValues = graft.operators.ImagePipeline.dctBasis
      .map { case (u, y, c) => s"($u, $y, $c)" }.mkString(", ")
    s"""pa AS (SELECT doc_id FROM documents WHERE doc_id < 8),
      pys AS (SELECT unnest(generate_series(0, 15)) AS y),
      pxs AS (SELECT unnest(generate_series(0, 15)) AS x),
      ppx AS (SELECT doc_id, y, x,
                ((31 * doc_id + 5) + 7 * y + 13 * x) % 256 AS px
              FROM pa CROSS JOIN pys CROSS JOIN pxs),
      pcb AS (SELECT * FROM (VALUES $basisValues) AS t(bu, b_y, cw)),
      pt1 AS (SELECT doc_id, bu AS u, x, CAST(SUM(cw * px) AS BIGINT) AS t
             FROM ppx JOIN pcb ON ppx.y = pcb.b_y
             GROUP BY doc_id, bu, x),
      pd2 AS (SELECT doc_id, u, c2.bu AS v, CAST(SUM(c2.cw * t) AS BIGINT) AS coef
             FROM pt1 JOIN pcb c2 ON pt1.x = c2.b_y
             GROUP BY doc_id, u, c2.bu),
      pdd AS (SELECT * FROM pd2 WHERE u < 8 AND v < 8 AND NOT (u = 0 AND v = 0)),
      prk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
               ORDER BY coef, u, v) AS rk FROM pdd),
      pmd AS (SELECT doc_id AS mdid, coef AS median FROM prk WHERE rk = 32)"""
  }

  val multimodal: Map[String, String] = Map(
    "m_bbox" -> """
      WITH c AS (SELECT doc_id,
               (doc_id % 97 + 1) / 100.0 AS xc, (doc_id % 89 + 1) / 100.0 AS yc,
               (doc_id % 23 + 1) / 100.0 AS w, (doc_id % 19 + 1) / 100.0 AS h
             FROM documents),
      a AS (SELECT doc_id, xc, yc,
              CAST(trunc(w * 640) AS BIGINT) AS w_abs,
              CAST(trunc(h * 480) AS BIGINT) AS h_abs
            FROM c)
      SELECT doc_id,
        CAST(trunc(xc * 640 - w_abs / 2.0) AS BIGINT) AS x1,
        CAST(trunc(yc * 480 - h_abs / 2.0) AS BIGINT) AS y1,
        CAST(trunc(xc * 640 - w_abs / 2.0) AS BIGINT) + w_abs AS x2,
        CAST(trunc(yc * 480 - h_abs / 2.0) AS BIGINT) + h_abs AS y2,
        w_abs, h_abs
      FROM a ORDER BY doc_id""",

    // real decode in the gate: the oracle evaluates the closed pixel
    // form directly; the engine must reproduce it through an actual
    // PNG encode -> javax.imageio decode -> BT.601 luma round-trip
    "m_decode_lut" -> """
      WITH dxs AS (SELECT unnest(generate_series(0, 15)) AS x),
      dys AS (SELECT unnest(generate_series(0, 11)) AS y),
      dids AS (SELECT doc_id FROM documents WHERE doc_id < 8),
      dpx AS (SELECT doc_id, y, x,
                ((31 * doc_id + 5) + 7 * y + 13 * x) % 256 AS px
              FROM dids CROSS JOIN dxs CROSS JOIN dys),
      dl AS (SELECT doc_id, px,
               CAST(trunc(pow(px / 255.0, 1.0 / 1.5) * 255) AS BIGINT) AS lut
             FROM dpx)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_px,
        CAST(SUM(lut) AS BIGINT) AS sum_lut,
        CAST(MIN(px) AS BIGINT) AS min_px,
        CAST(MAX(px) AS BIGINT) AS max_px
      FROM dl GROUP BY doc_id ORDER BY doc_id""",

    // decode-fed blur: the 5x5 integer stencil over the closed pixel
    // form (the engine must reproduce it through the real decode)
    "m_decode_blur" -> """
      WITH bxs AS (SELECT unnest(generate_series(0, 15)) AS x),
      bys AS (SELECT unnest(generate_series(0, 11)) AS y),
      bids AS (SELECT doc_id FROM documents WHERE doc_id < 8),
      bpx AS (SELECT doc_id, y, x,
                ((31 * doc_id + 5) + 7 * y + 13 * x) % 256 AS px
              FROM bids CROSS JOIN bxs CROSS JOIN bys),
      bdy AS (SELECT unnest(generate_series(-2, 2)) AS dy),
      bdx AS (SELECT unnest(generate_series(-2, 2)) AS dx),
      boffs AS (SELECT dy, dx,
                  (CASE abs(dy) WHEN 0 THEN 6 WHEN 1 THEN 4 ELSE 1 END)
                  * (CASE abs(dx) WHEN 0 THEN 6 WHEN 1 THEN 4 ELSE 1 END) AS wgt
                FROM bdy CROSS JOIN bdx),
      bconv AS (SELECT doc_id, y + dy AS yo, x + dx AS xo,
                  SUM(wgt * px) AS b256
                FROM bpx CROSS JOIN boffs
                WHERE y + dy >= 0 AND y + dy < 12
                  AND x + dx >= 0 AND x + dx < 16
                GROUP BY doc_id, y + dy, x + dx),
      bb AS (SELECT doc_id, b256 // 256 AS b FROM bconv)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_px,
        CAST(SUM(b) AS BIGINT) AS sum_b,
        CAST(MIN(b) AS BIGINT) AS min_b,
        CAST(MAX(b) AS BIGINT) AS max_b
      FROM bb GROUP BY doc_id ORDER BY doc_id""",

    // torchvision CenterCrop over the closed pixel form: offsets via
    // Python's banker's rounding of (full-crop)/2 — k + (k%2) on odd
    // differences — derived in SQL from the same integer formula
    "m_center_crop" -> """
      WITH ccx AS (SELECT unnest(generate_series(0, 31)) AS x),
      ccy AS (SELECT unnest(generate_series(0, 23)) AS y),
      cci AS (SELECT doc_id FROM documents WHERE doc_id < 8),
      ccp AS (SELECT doc_id, y, x,
                ((31 * doc_id + 5) + 7 * y + 13 * x) % 256 AS px
              FROM cci CROSS JOIN ccx CROSS JOIN ccy),
      cco AS (SELECT
          CASE WHEN (24 - 13) % 2 = 0 THEN (24 - 13) // 2
               ELSE (24 - 13) // 2 + ((24 - 13) // 2) % 2 END AS top,
          CASE WHEN (32 - 22) % 2 = 0 THEN (32 - 22) // 2
               ELSE (32 - 22) // 2 + ((32 - 22) // 2) % 2 END AS lft)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_px,
        CAST(SUM(px) AS BIGINT) AS sum_px,
        CAST(MIN(px) AS BIGINT) AS min_px,
        CAST(MAX(px) AS BIGINT) AS max_px
      FROM ccp, cco
      WHERE y >= top AND y < top + 13 AND x >= lft AND x < lft + 22
      GROUP BY doc_id ORDER BY doc_id""",

    // the app's zero-result branch: confidence-thresholded detections
    // with EVERY doc reporting its surviving count (left join keeps
    // the has_detection = false rows the app warns on)
    "m_detect_empty" -> """
      WITH di AS (SELECT unnest(generate_series(0, 2)) AS i),
      base AS (SELECT doc_id, text,
          CAST(('0x' || substr(md5(text || '_n'), 1, 8)) AS BIGINT) % 3 + 1 AS n
        FROM documents WHERE doc_id < 20),
      raw AS (SELECT doc_id, i,
          ROUND(CAST(('0x' || substr(md5(text || '_s' || i), 1, 8)) AS BIGINT)
            / 4294967296.0, 6) AS score
        FROM base CROSS JOIN di WHERE i < n),
      cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_det
              FROM raw WHERE score >= 0.5 GROUP BY doc_id)
      SELECT b.doc_id, CAST(COALESCE(c.n_det, 0) AS BIGINT) AS n_det,
        c.n_det IS NOT NULL AS has_detection
      FROM (SELECT DISTINCT doc_id FROM base) b
      LEFT JOIN cnt c ON c.doc_id = b.doc_id
      ORDER BY b.doc_id""",

    // decode-fed cv2-exact blur: [1,2,1]/4 ⊗ [1,2,1]/4, reflect-101
    // borders, round-half-up — (sum + 8) // 16 over reflected taps
    "m_decode_blur3" -> """
      WITH gxs AS (SELECT unnest(generate_series(0, 15)) AS x),
      gys AS (SELECT unnest(generate_series(0, 11)) AS y),
      gids AS (SELECT doc_id FROM documents WHERE doc_id < 8),
      gpx AS (SELECT doc_id, y, x,
                ((31 * doc_id + 5) + 7 * y + 13 * x) % 256 AS px
              FROM gids CROSS JOIN gxs CROSS JOIN gys),
      gdy AS (SELECT unnest(generate_series(-1, 1)) AS dy),
      gdx AS (SELECT unnest(generate_series(-1, 1)) AS dx),
      goffs AS (SELECT dy, dx,
                  (CASE WHEN dy = 0 THEN 2 ELSE 1 END)
                  * (CASE WHEN dx = 0 THEN 2 ELSE 1 END) AS wgt
                FROM gdy CROSS JOIN gdx),
      gconv AS (SELECT o.doc_id, o.y, o.x,
                  (CAST(SUM(wgt * g.px) AS BIGINT) + 8) // 16 AS b
                FROM gpx o CROSS JOIN goffs
                JOIN gpx g ON g.doc_id = o.doc_id
                  AND g.y = CASE WHEN o.y + dy < 0 THEN -(o.y + dy)
                                 WHEN o.y + dy > 11 THEN 22 - (o.y + dy)
                                 ELSE o.y + dy END
                  AND g.x = CASE WHEN o.x + dx < 0 THEN -(o.x + dx)
                                 WHEN o.x + dx > 15 THEN 30 - (o.x + dx)
                                 ELSE o.x + dx END
                GROUP BY o.doc_id, o.y, o.x)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_px,
        CAST(SUM(b) AS BIGINT) AS sum_b,
        CAST(MIN(b) AS BIGINT) AS min_b,
        CAST(MAX(b) AS BIGINT) AS max_b
      FROM gconv GROUP BY doc_id ORDER BY doc_id""",

    // decode-fed pHash: the full separable DCT -> rank-32 median ->
    // bit-pack derivation over the closed pixel form; the engine must
    // reproduce it through the real PNG encode -> decode round-trip
    "m_decode_phash" -> s"""
      WITH $decodePhashCte
      SELECT pdd.doc_id,
        CAST(SUM(CASE WHEN coef > median
                 THEN (CAST(1 AS BIGINT) << (u * 8 + v - 1)) ELSE 0 END) AS BIGINT)
          AS phash,
        COUNT(*) FILTER (WHERE coef > median) AS n_bits,
        MAX(median) AS median
      FROM pdd JOIN pmd ON pdd.doc_id = mdid
      GROUP BY pdd.doc_id ORDER BY pdd.doc_id""",

    "m_gamma_lut" -> """
      SELECT intensity,
        CAST(trunc(pow(intensity / 255.0, 1.0 / 1.5) * 255) AS BIGINT) AS lut
      FROM (SELECT DISTINCT doc_id % 256 AS intensity FROM documents)
      ORDER BY intensity""",

    // full CLAHE: clipped per-tile histograms -> integer LUTs -> per-
    // pixel bilinear blend of the 4 corner tiles' curves (fixed-point
    // /16 weights), replayed with an ASOF join for the CDF lookup
    "m_clahe" -> """
      WITH cxs AS (SELECT unnest(generate_series(0, 31)) AS x),
      cys AS (SELECT unnest(generate_series(0, 31)) AS y),
      cds AS (SELECT doc_id FROM documents WHERE doc_id < 2),
      cpx AS (SELECT doc_id, y, x,
                CAST(('0x' || substr(md5('cl_' || doc_id || '_' || y || '_' || x), 1, 2))
                  AS BIGINT) AS px
              FROM cds CROSS JOIN cys CROSS JOIN cxs),
      chist AS (SELECT doc_id, (y // 8) * 4 + (x // 8) AS t, px AS intensity,
                  COUNT(*) AS n, LEAST(COUNT(*), 5) AS c
                FROM cpx GROUP BY 1, 2, 3),
      ctiles AS (SELECT doc_id, t, CAST(SUM(n - c) AS BIGINT) AS excess
                 FROM chist GROUP BY 1, 2),
      ccum AS (SELECT doc_id, t, intensity,
                 CAST(SUM(c) OVER (PARTITION BY doc_id, t ORDER BY intensity) AS BIGINT)
                   AS cumc
               FROM chist),
      cis AS (SELECT unnest(generate_series(0, 255)) AS i),
      cluts AS (SELECT lb.doc_id, lb.t, lb.i,
                  ((COALESCE(c.cumc, 0) + (lb.i + 1) * (lb.excess // 256)) * 255) // 64 AS m
                FROM (SELECT ti.doc_id, ti.t, ti.excess, ii.i
                      FROM ctiles ti CROSS JOIN cis ii) lb
                ASOF LEFT JOIN ccum c
                  ON lb.doc_id = c.doc_id AND lb.t = c.t AND lb.i >= c.intensity),
      ccorn AS (SELECT doc_id, y, x, px,
                  LEAST(GREATEST(x * 2 - 7, 0), 48) AS pcx,
                  LEAST(GREATEST(y * 2 - 7, 0), 48) AS pcy
                FROM cpx),
      cc2 AS (SELECT doc_id, y, x, px,
                pcx // 16 AS tx0, pcx % 16 AS qx,
                pcy // 16 AS ty0, pcy % 16 AS qy,
                LEAST(pcx // 16 + 1, 3) AS tx1, LEAST(pcy // 16 + 1, 3) AS ty1
              FROM ccorn),
      cm4 AS (SELECT c2.doc_id, c2.y, c2.qx, c2.qy,
                tl.m AS mtl, tr.m AS mtr, bl.m AS mbl, br.m AS mbr
              FROM cc2 c2
              JOIN cluts tl ON tl.doc_id = c2.doc_id
                AND tl.t = c2.ty0 * 4 + c2.tx0 AND tl.i = c2.px
              JOIN cluts tr ON tr.doc_id = c2.doc_id
                AND tr.t = c2.ty0 * 4 + c2.tx1 AND tr.i = c2.px
              JOIN cluts bl ON bl.doc_id = c2.doc_id
                AND bl.t = c2.ty1 * 4 + c2.tx0 AND bl.i = c2.px
              JOIN cluts br ON br.doc_id = c2.doc_id
                AND br.t = c2.ty1 * 4 + c2.tx1 AND br.i = c2.px),
      cmap AS (SELECT doc_id, y,
                 (mtl * (16 - qx) * (16 - qy) + mtr * qx * (16 - qy)
                  + mbl * (16 - qx) * qy + mbr * qx * qy) // 256 AS m
               FROM cm4)
      SELECT doc_id, CAST(y AS BIGINT) AS y, COUNT(*) AS n_px,
        CAST(SUM(m) AS BIGINT) AS sum_m,
        CAST(MIN(m) AS BIGINT) AS min_m, CAST(MAX(m) AS BIGINT) AS max_m
      FROM cmap GROUP BY doc_id, y ORDER BY doc_id, y""",

    // Haitsma-Kalker audio fingerprint: sign of the time-difference of
    // the band-difference of integer band energies, 49 bits per asset
    "m_audio_fp" -> """
      WITH af AS (SELECT doc_id FROM documents WHERE doc_id < 50),
      afr AS (SELECT unnest(generate_series(0, 7)) AS frame),
      ai AS (SELECT unnest(generate_series(0, 63)) AS i),
      asam AS (SELECT doc_id, frame, i,
                 CAST(('0x' || substr(md5('pcm_' || doc_id || '_'
                   || (frame * 64 + i)), 1, 2)) AS BIGINT) - 128 AS s
               FROM af CROSS JOIN afr CROSS JOIN ai),
      aen AS (SELECT doc_id, frame, i // 8 AS band,
                CAST(SUM(s * s) AS BIGINT) AS en
              FROM asam GROUP BY 1, 2, 3),
      ad AS (SELECT a.doc_id, a.frame, a.band, a.en - b.en AS dd
             FROM aen a JOIN aen b ON a.doc_id = b.doc_id
               AND a.frame = b.frame AND b.band = a.band + 1),
      abits AS (SELECT c.doc_id, c.frame, c.band,
                  CASE WHEN c.dd - p.dd > 0 THEN 1 ELSE 0 END AS bit
                FROM ad c JOIN ad p ON c.doc_id = p.doc_id
                  AND p.frame = c.frame - 1 AND p.band = c.band)
      SELECT doc_id,
        CAST(SUM(CASE WHEN bit = 1
          THEN (1::BIGINT << ((frame - 1) * 7 + band)) ELSE 0 END) AS BIGINT) AS fp,
        CAST(SUM(bit) AS BIGINT) AS n_bits
      FROM abits GROUP BY doc_id ORDER BY doc_id""",

    // decode-fed crop: the reference bbox truncation math + pixel-range
    // crop over the closed pixel form (bounds clamp is implicit — the
    // frame only has pixels inside it)
    "m_decode_crop" -> """
      WITH kxs AS (SELECT unnest(generate_series(0, 31)) AS x),
      kys AS (SELECT unnest(generate_series(0, 23)) AS y),
      kid AS (SELECT doc_id FROM documents WHERE doc_id < 8),
      kpx AS (SELECT doc_id, y, x,
                ((31 * doc_id + 5) + 7 * y + 13 * x) % 256 AS px
              FROM kid CROSS JOIN kys CROSS JOIN kxs),
      kc AS (SELECT doc_id,
               (doc_id % 5 + 3) / 10.0 AS xc, (doc_id % 7 + 2) / 10.0 AS yc,
               (doc_id % 3 + 2) / 10.0 AS w, (doc_id % 4 + 2) / 10.0 AS h
             FROM kid),
      ka AS (SELECT doc_id, xc, yc,
               CAST(trunc(w * 32) AS BIGINT) AS w_abs,
               CAST(trunc(h * 24) AS BIGINT) AS h_abs
             FROM kc),
      kb AS (SELECT doc_id AS bid,
               CAST(trunc(xc * 32 - w_abs / 2.0) AS BIGINT) AS x1,
               CAST(trunc(yc * 24 - h_abs / 2.0) AS BIGINT) AS y1,
               CAST(trunc(xc * 32 - w_abs / 2.0) AS BIGINT) + w_abs AS x2,
               CAST(trunc(yc * 24 - h_abs / 2.0) AS BIGINT) + h_abs AS y2
             FROM ka)
      SELECT doc_id, x1, y1, x2, y2,
        CAST(COUNT(*) AS BIGINT) AS n_px, CAST(SUM(px) AS BIGINT) AS sum_px,
        CAST(MIN(px) AS BIGINT) AS min_px, CAST(MAX(px) AS BIGINT) AS max_px
      FROM kpx JOIN kb ON doc_id = bid
      WHERE x >= x1 AND x < x2 AND y >= y1 AND y < y2
      GROUP BY 1, 2, 3, 4, 5 ORDER BY doc_id""",

    // decode-fed resize: 2x2 floor box-mean over the closed pixel form
    "m_decode_resize" -> """
      WITH rxs AS (SELECT unnest(generate_series(0, 15)) AS x),
      rys AS (SELECT unnest(generate_series(0, 15)) AS y),
      rid AS (SELECT doc_id FROM documents WHERE doc_id < 8),
      rpx AS (SELECT doc_id, y, x,
                ((31 * doc_id + 5) + 7 * y + 13 * x) % 256 AS px
              FROM rid CROSS JOIN rys CROSS JOIN rxs),
      rb AS (SELECT doc_id, y // 2 AS yo, x // 2 AS xo,
               CAST(SUM(px) AS BIGINT) // 4 AS p
             FROM rpx GROUP BY 1, 2, 3)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_px,
        CAST(SUM(p) AS BIGINT) AS sum_p,
        CAST(MIN(p) AS BIGINT) AS min_p, CAST(MAX(p) AS BIGINT) AS max_p
      FROM rb GROUP BY doc_id ORDER BY doc_id""",

    // decode-fed CLAHE: the full clip-redistribute adaptation over the
    // closed pixel form — the engine must reproduce it through the real
    // PNG encode -> decode round-trip (same replay as m_clahe, only the
    // pixel source differs)
    "m_decode_clahe" -> """
      WITH cxs AS (SELECT unnest(generate_series(0, 31)) AS x),
      cys AS (SELECT unnest(generate_series(0, 31)) AS y),
      cds AS (SELECT doc_id FROM documents WHERE doc_id < 2),
      cpx AS (SELECT doc_id, y, x,
                ((31 * doc_id + 5) + 7 * y + 13 * x) % 256 AS px
              FROM cds CROSS JOIN cys CROSS JOIN cxs),
      chist AS (SELECT doc_id, (y // 8) * 4 + (x // 8) AS t, px AS intensity,
                  COUNT(*) AS n, LEAST(COUNT(*), 5) AS c
                FROM cpx GROUP BY 1, 2, 3),
      ctiles AS (SELECT doc_id, t, CAST(SUM(n - c) AS BIGINT) AS excess
                 FROM chist GROUP BY 1, 2),
      ccum AS (SELECT doc_id, t, intensity,
                 CAST(SUM(c) OVER (PARTITION BY doc_id, t ORDER BY intensity) AS BIGINT)
                   AS cumc
               FROM chist),
      cis AS (SELECT unnest(generate_series(0, 255)) AS i),
      cluts AS (SELECT lb.doc_id, lb.t, lb.i,
                  ((COALESCE(c.cumc, 0) + (lb.i + 1) * (lb.excess // 256)) * 255) // 64 AS m
                FROM (SELECT ti.doc_id, ti.t, ti.excess, ii.i
                      FROM ctiles ti CROSS JOIN cis ii) lb
                ASOF LEFT JOIN ccum c
                  ON lb.doc_id = c.doc_id AND lb.t = c.t AND lb.i >= c.intensity),
      ccorn AS (SELECT doc_id, y, x, px,
                  LEAST(GREATEST(x * 2 - 7, 0), 48) AS pcx,
                  LEAST(GREATEST(y * 2 - 7, 0), 48) AS pcy
                FROM cpx),
      cc2 AS (SELECT doc_id, y, x, px,
                pcx // 16 AS tx0, pcx % 16 AS qx,
                pcy // 16 AS ty0, pcy % 16 AS qy,
                LEAST(pcx // 16 + 1, 3) AS tx1, LEAST(pcy // 16 + 1, 3) AS ty1
              FROM ccorn),
      cm4 AS (SELECT c2.doc_id, c2.y, c2.qx, c2.qy,
                tl.m AS mtl, tr.m AS mtr, bl.m AS mbl, br.m AS mbr
              FROM cc2 c2
              JOIN cluts tl ON tl.doc_id = c2.doc_id
                AND tl.t = c2.ty0 * 4 + c2.tx0 AND tl.i = c2.px
              JOIN cluts tr ON tr.doc_id = c2.doc_id
                AND tr.t = c2.ty0 * 4 + c2.tx1 AND tr.i = c2.px
              JOIN cluts bl ON bl.doc_id = c2.doc_id
                AND bl.t = c2.ty1 * 4 + c2.tx0 AND bl.i = c2.px
              JOIN cluts br ON br.doc_id = c2.doc_id
                AND br.t = c2.ty1 * 4 + c2.tx1 AND br.i = c2.px),
      cmap AS (SELECT doc_id, y,
                 (mtl * (16 - qx) * (16 - qy) + mtr * qx * (16 - qy)
                  + mbl * (16 - qx) * qy + mbr * qx * qy) // 256 AS m
               FROM cm4)
      SELECT doc_id, CAST(y AS BIGINT) AS y, COUNT(*) AS n_px,
        CAST(SUM(m) AS BIGINT) AS sum_m,
        CAST(MIN(m) AS BIGINT) AS min_m, CAST(MAX(m) AS BIGINT) AS max_m
      FROM cmap GROUP BY doc_id, y ORDER BY doc_id, y""",

    // same formula as m_fake_embed, but the Spark side produces it
    // through the pluggable batched-inference scaffold (mapPartitions
    // + per-partition model load) instead of a Catalyst expression
    "m_embed_scaffold" -> """
      WITH dd AS (SELECT unnest(generate_series(1, 8)) AS d)
      SELECT doc_id, CAST(d AS BIGINT) AS d,
        ROUND(CAST(('0x' || substr(md5(text || '_' || d), 1, 8)) AS BIGINT)
          / 4294967296.0, 6) AS f
      FROM documents CROSS JOIN dd WHERE doc_id < 10 ORDER BY doc_id, d""",

    // the pluggable detector scaffold: md5-derived boxes through the
    // reference's exact normalized->pixel bbox truncation math
    "m_detect" -> """
      WITH di AS (SELECT unnest(generate_series(0, 2)) AS i),
      base AS (SELECT doc_id, text,
          CAST(('0x' || substr(md5(text || '_n'), 1, 8)) AS BIGINT) % 3 + 1 AS n
        FROM documents WHERE doc_id < 20),
      raw AS (SELECT doc_id, i,
          CAST(CAST(('0x' || substr(md5(text || '_x' || i), 1, 8)) AS BIGINT) AS DOUBLE)
            / 4294967296.0 AS xc,
          CAST(CAST(('0x' || substr(md5(text || '_y' || i), 1, 8)) AS BIGINT) AS DOUBLE)
            / 4294967296.0 AS yc,
          CAST(CAST(('0x' || substr(md5(text || '_w' || i), 1, 8)) AS BIGINT) AS DOUBLE)
            / 4294967296.0 / 4.0 AS w,
          CAST(CAST(('0x' || substr(md5(text || '_h' || i), 1, 8)) AS BIGINT) AS DOUBLE)
            / 4294967296.0 / 4.0 AS h,
          CAST(('0x' || substr(md5(text || '_c' || i), 1, 8)) AS BIGINT) % 5 AS class_id,
          ROUND(CAST(('0x' || substr(md5(text || '_s' || i), 1, 8)) AS BIGINT)
            / 4294967296.0, 6) AS score
        FROM base CROSS JOIN di WHERE i < n),
      a AS (SELECT doc_id, i, class_id, score, xc, yc,
          CAST(trunc(w * 640) AS BIGINT) AS w_abs,
          CAST(trunc(h * 480) AS BIGINT) AS h_abs FROM raw)
      SELECT doc_id, CAST(i AS BIGINT) AS det_id,
        CAST(class_id AS BIGINT) AS class_id, score,
        CAST(trunc(xc * 640 - w_abs / 2.0) AS BIGINT) AS x1,
        CAST(trunc(yc * 480 - h_abs / 2.0) AS BIGINT) AS y1,
        CAST(trunc(xc * 640 - w_abs / 2.0) AS BIGINT) + w_abs AS x2,
        CAST(trunc(yc * 480 - h_abs / 2.0) AS BIGINT) + h_abs AS y2
      FROM a ORDER BY doc_id, det_id""",

    "m_fake_embed" -> """
      WITH dd AS (SELECT unnest(generate_series(1, 8)) AS d)
      SELECT doc_id, CAST(d AS BIGINT) AS d,
        ROUND(CAST(('0x' || substr(md5(text || '_' || d), 1, 8)) AS BIGINT)
          / 4294967296.0, 6) AS f
      FROM documents CROSS JOIN dd WHERE doc_id < 10 ORDER BY doc_id, d"""
  )

  val streaming: Map[String, String] = Map(
    // stream-stream interval join semantics on the static table:
    // purchases joined to same-user views in the preceding 30 minutes.
    // epoch_us on both sides — Spark's ts is µs-truncated nanos.
    "s_interval_join" -> """
      WITH v AS (SELECT user_id AS v_user, event_id AS view_id, epoch_us(ts) AS vus
                 FROM events WHERE event_type = 'view'),
      p AS (SELECT user_id AS p_user, event_id AS purchase_id, epoch_us(ts) AS pus
            FROM events WHERE event_type = 'purchase')
      SELECT p.purchase_id, v.view_id, p.p_user AS user_id
      FROM p JOIN v ON v.v_user = p.p_user
        AND v.vus >= p.pus - 1800000000 AND v.vus <= p.pus
      ORDER BY purchase_id, view_id""",

    "s_window_agg" -> s"""
      SELECT strftime(time_bucket(INTERVAL '15 minutes', ts), '%Y-%m-%d %H:%M') AS win_start,
        event_type, COUNT(*) AS n,
        ${msum("value")} AS sum_value
      FROM events GROUP BY win_start, event_type
      ORDER BY win_start, event_type"""
  )

  /** Round-2 additions: as-of / range joins, pivot, percentiles,
    * salting, grouping sets, n-gram jaccard, BPE pre-tokenization,
    * frame sampling, format round-trips.
    */
  val round2: Map[String, String] = Map(
    "q_asof_join" -> """
      WITH ev AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
                    CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS tag
                  FROM events WHERE event_type IN ('view', 'purchase')),
      m AS (SELECT user_id, event_id, ts_ms, tag,
              LAST_VALUE(CASE WHEN tag = 0 THEN event_id END IGNORE NULLS)
                OVER (PARTITION BY user_id ORDER BY ts_ms, tag, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS view_id,
              LAST_VALUE(CASE WHEN tag = 0 THEN ts_ms END IGNORE NULLS)
                OVER (PARTITION BY user_id ORDER BY ts_ms, tag, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS view_ms
            FROM ev)
      SELECT event_id, user_id, ts_ms,
        COALESCE(view_id, -1) AS view_id,
        COALESCE(ts_ms - view_ms, -1) AS gap_ms
      FROM m WHERE tag = 1 ORDER BY event_id""",

    "q_asof_forward" -> """
      WITH fev AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
                     CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS tag
                   FROM events WHERE event_type IN ('click', 'purchase')),
      fm AS (SELECT user_id, event_id, ts_ms, tag,
               FIRST_VALUE(CASE WHEN tag = 1 THEN event_id END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts_ms, tag, event_id
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS click_id,
               FIRST_VALUE(CASE WHEN tag = 1 THEN ts_ms END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts_ms, tag, event_id
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS click_ms
             FROM fev)
      SELECT event_id, user_id, ts_ms,
        COALESCE(click_id, -1) AS click_id,
        COALESCE(click_ms - ts_ms, -1) AS wait_ms
      FROM fm WHERE tag = 0 ORDER BY event_id""",

    "q_range_join" -> """
      WITH iv AS (SELECT i AS interval_id,
                    1704067200000 + i * 129600000 AS start_ms
                  FROM (SELECT unnest(generate_series(0, 19)) AS i))
      SELECT interval_id, COUNT(*) AS n_events,
        COUNT(DISTINCT user_id) AS n_users
      FROM events JOIN iv
        ON epoch_ms(ts) >= start_ms AND epoch_ms(ts) < start_ms + 21600000
      GROUP BY interval_id ORDER BY interval_id""",

    "q_pivot" -> """
      SELECT strftime(ts, '%Y-%m-%d') AS day,
        COUNT(*) FILTER (WHERE event_type = 'click') AS click,
        COUNT(*) FILTER (WHERE event_type = 'error') AS error,
        COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
        COUNT(*) FILTER (WHERE event_type = 'view') AS view
      FROM events GROUP BY day ORDER BY day""",

    "q_percentiles" -> """
      SELECT l_returnflag,
        ROUND(quantile_cont(l_quantity, 0.25), 6) AS p25,
        ROUND(quantile_cont(l_quantity, 0.50), 6) AS p50,
        ROUND(quantile_cont(l_quantity, 0.75), 6) AS p75,
        COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q_salted_agg" -> s"""
      SELECT event_type, COUNT(*) AS n_events,
        ${msum("value")} AS sum_value
      FROM events GROUP BY event_type ORDER BY event_type""",

    "q_salted_join" -> """
      WITH dim AS (SELECT DISTINCT event_type,
                     CAST(length(event_type) AS BIGINT) AS weight
                   FROM events)
      SELECT e.event_type, COUNT(*) AS n,
        CAST(SUM(weight) AS BIGINT) AS sum_weight
      FROM events e JOIN dim d ON e.event_type = d.event_type
      GROUP BY e.event_type ORDER BY e.event_type""",

    "q_grouping_sets" -> s"""
      SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        COALESCE(o_orderpriority, 'ALL') AS priority,
        COUNT(*) AS n,
        ${msum("o_totalprice")} AS total
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      ORDER BY status, priority""",

    "q_window_funcs" -> """
      WITH daily AS (SELECT l_suppkey, strftime(l_shipdate, '%Y-%m-%d') AS ship_day,
              SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) / 100.0 AS day_rev
            FROM lineitem WHERE l_suppkey <= 3 GROUP BY 1, 2)
      SELECT l_suppkey, ship_day, day_rev,
        COALESCE(LAG(day_rev, 1) OVER w1, -1) AS prev_rev,
        COALESCE(LEAD(day_rev, 1) OVER w1, -1) AS next_rev,
        CAST(DENSE_RANK() OVER w2 AS BIGINT) AS rev_rank,
        CAST(NTILE(4) OVER w2 AS BIGINT) AS quartile
      FROM daily
      WINDOW w1 AS (PARTITION BY l_suppkey ORDER BY ship_day),
             w2 AS (PARTITION BY l_suppkey ORDER BY day_rev DESC, ship_day ASC)
      ORDER BY l_suppkey, ship_day""",

    "q_json_extract" -> """
      SELECT event_type, COUNT(*) AS n,
        CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
        MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
      FROM events GROUP BY event_type ORDER BY event_type""",

    "q_setops" -> """
      SELECT
        (SELECT COUNT(*) FROM (
           SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
           INTERSECT
           SELECT o_custkey FROM orders)) AS intersect_n,
        (SELECT COUNT(*) FROM (
           SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
           EXCEPT
           SELECT o_custkey FROM orders)) AS except_n""",

    "q_exists_subquery" -> """
      SELECT o_orderpriority, COUNT(*) AS n_orders
      FROM orders o
      WHERE EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_quantity > (SELECT AVG(l_quantity) FROM lineitem))
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",

    "d_sample_stratified" -> """
      WITH sizes AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
      t AS (SELECT MIN(n) AS target FROM sizes),
      r AS (SELECT lang, n, LEAST(1.0, target / CAST(n AS DOUBLE)) AS rate
            FROM sizes CROSS JOIN t),
      s AS (SELECT d.doc_id, d.lang, r.n, r.rate,
              CAST(('0x' || substr(md5('smp_' || d.doc_id), 1, 15)) AS BIGINT)
                / 1152921504606846976.0 AS u
            FROM documents d JOIN r ON d.lang = r.lang)
      SELECT lang, CAST(MAX(n) AS BIGINT) AS n_stratum,
        COUNT(*) FILTER (WHERE u < rate) AS n_sampled
      FROM s GROUP BY lang ORDER BY lang""",

    "d_components" -> s"""
      WITH RECURSIVE $bandPairsCte,
      je AS (SELECT doc1, doc2,
               SUM(CASE WHEN m1.mh = m2.mh THEN 1 ELSE 0 END) / 16.0 AS jacc_est
             FROM pairs
             JOIN mh m1 ON m1.doc_id = doc1
             JOIN mh m2 ON m2.doc_id = doc2 AND m2.perm_id = m1.perm_id
             GROUP BY doc1, doc2),
      fb AS (SELECT doc_id AS doc1, doc_id + 1 AS doc2 FROM documents
             WHERE doc_id % 10 = 0),
      und AS (SELECT doc1, doc2 FROM je WHERE jacc_est >= 0.25
              UNION SELECT doc1, doc2 FROM fb),
      edges AS (SELECT doc1 AS a, doc2 AS b FROM und
                UNION SELECT doc2, doc1 FROM und),
      reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      lbl AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
              FROM reach GROUP BY a)
      SELECT doc_id, component,
        CAST(CASE WHEN doc_id = component THEN 1 ELSE 0 END AS BIGINT) AS is_keeper
      FROM lbl ORDER BY doc_id""",

    // PageRank in exact ppm integer arithmetic: the same edge CTEs as
    // d_components, then the 3-superstep trajectory unrolled (contrib
    // = r // deg, damping = 150000 + (850000*s) // 10^6 — all floor
    // divisions, so the replay is bit-identical to the Spark loop)
    "d_pagerank" -> s"""
      WITH RECURSIVE $bandPairsCte,
      je AS (SELECT doc1, doc2,
               SUM(CASE WHEN m1.mh = m2.mh THEN 1 ELSE 0 END) / 16.0 AS jacc_est
             FROM pairs
             JOIN mh m1 ON m1.doc_id = doc1
             JOIN mh m2 ON m2.doc_id = doc2 AND m2.perm_id = m1.perm_id
             GROUP BY doc1, doc2),
      fb AS (SELECT doc_id AS doc1, doc_id + 1 AS doc2 FROM documents
             WHERE doc_id % 10 = 0),
      -- explicit DISTINCT: inside WITH RECURSIVE DuckDB does NOT
      -- deduplicate a plain UNION in a CTE body, and duplicate edges
      -- would double-count degrees
      und AS (SELECT DISTINCT doc1, doc2 FROM (
                SELECT doc1, doc2 FROM je WHERE jacc_est >= 0.25
                UNION ALL SELECT doc1, doc2 FROM fb) uu),
      edges AS (SELECT DISTINCT a, b FROM (
                SELECT doc1 AS a, doc2 AS b FROM und
                UNION ALL SELECT doc2 AS a, doc1 AS b FROM und) ee),
      deg AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY a),
      r0 AS (SELECT a AS doc, deg, CAST(1000000 AS BIGINT) AS r FROM deg),
      s1 AS (SELECT e.b AS doc, CAST(SUM(r // deg) AS BIGINT) AS s
             FROM edges e JOIN r0 ON e.a = r0.doc GROUP BY e.b),
      r1 AS (SELECT d.a AS doc, d.deg,
               150000 + (850000 * s) // 1000000 AS r
             FROM deg d JOIN s1 ON d.a = s1.doc),
      s2 AS (SELECT e.b AS doc, CAST(SUM(r // deg) AS BIGINT) AS s
             FROM edges e JOIN r1 ON e.a = r1.doc GROUP BY e.b),
      r2 AS (SELECT d.a AS doc, d.deg,
               150000 + (850000 * s) // 1000000 AS r
             FROM deg d JOIN s2 ON d.a = s2.doc),
      s3 AS (SELECT e.b AS doc, CAST(SUM(r // deg) AS BIGINT) AS s
             FROM edges e JOIN r2 ON e.a = r2.doc GROUP BY e.b),
      r3 AS (SELECT d.a AS doc, d.deg,
               150000 + (850000 * s) // 1000000 AS r
             FROM deg d JOIN s3 ON d.a = s3.doc)
      SELECT doc AS doc_id, CAST(r AS BIGINT) AS rank_ppm
      FROM r3 ORDER BY doc""",

    "d_ngram_jacc" -> s"""
      WITH p3 AS (SELECT doc_id, text,
                    unnest(generate_series(1, length(text) - 2)) AS i
                  FROM documents WHERE length(text) >= 3),
      g3 AS (SELECT DISTINCT doc_id,
               CAST(('0x' || substr(md5(substr(text, i, 3)), 1, 15)) AS BIGINT)
                 % ${H.P31} AS h
             FROM p3),
      gc AS (SELECT doc_id, COUNT(*) AS c FROM g3 GROUP BY doc_id),
      pr AS (SELECT doc_id AS doc1, doc_id + 3 AS doc2 FROM documents
             WHERE doc_id % 7 = 0),
      inter AS (SELECT pr.doc1, pr.doc2, COUNT(*) AS i
                FROM pr JOIN g3 a ON a.doc_id = pr.doc1
                JOIN g3 b ON b.doc_id = pr.doc2 AND b.h = a.h
                GROUP BY pr.doc1, pr.doc2)
      SELECT pr.doc1, pr.doc2, COALESCE(i.i, 0) AS inter,
        a.c + b.c - COALESCE(i.i, 0) AS uni,
        COALESCE(i.i, 0) / (a.c + b.c - COALESCE(i.i, 0)) AS jaccard
      FROM pr JOIN gc a ON a.doc_id = pr.doc1
      JOIN gc b ON b.doc_id = pr.doc2
      LEFT JOIN inter i ON i.doc1 = pr.doc1 AND i.doc2 = pr.doc2
      ORDER BY pr.doc1, pr.doc2""",

    "t_bpe_tokens" -> """
      WITH pc AS (SELECT doc_id,
                    regexp_extract_all(lower(text),
                      '[a-z]+|[0-9]+|[^a-z0-9\s]') AS pieces
                  FROM documents)
      SELECT doc_id,
        CAST(len(pieces) AS BIGINT) AS n_pieces,
        CAST(len(list_filter(pieces, p -> regexp_matches(p, '^[a-z]')))
          AS BIGINT) AS n_alpha,
        CAST(len(list_filter(pieces, p -> regexp_matches(p, '^[0-9]')))
          AS BIGINT) AS n_num,
        CAST(list_sum(list_transform(pieces, p -> length(p))) AS BIGINT)
          / len(pieces) AS avg_piece_len
      FROM pc ORDER BY doc_id""",

    "m_frame_sample" -> """
      WITH f AS (SELECT doc_id, doc_id % 240 + 30 AS n_frames
                 FROM documents WHERE doc_id < 50),
      s AS (SELECT doc_id, n_frames,
              GREATEST(1, CAST(FLOOR(n_frames / 8) AS BIGINT)) AS step FROM f),
      x AS (SELECT doc_id, n_frames,
              unnest(generate_series(0, n_frames - 1, step)) AS frame_idx
            FROM s)
      SELECT doc_id, n_frames, frame_idx,
        (frame_idx * 1000) // 30 AS sample_ms
      FROM x ORDER BY doc_id, frame_idx""",

    "t_tfidf" -> s"""
      WITH $tokensCte,
      tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tk GROUP BY doc_id, tok),
      dfx AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tk GROUP BY tok),
      nn AS (SELECT COUNT(*) AS n_docs FROM documents),
      s AS (SELECT doc_id, tf.tok, ROUND(tf * ln(CAST(n_docs AS DOUBLE) / df), 6)
              AS tfidf
            FROM tf JOIN dfx ON tf.tok = dfx.tok CROSS JOIN nn),
      r AS (SELECT doc_id, tok, tfidf,
              CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                ORDER BY tfidf DESC, tok ASC) AS BIGINT) AS rnk
            FROM s WHERE doc_id < 100)
      SELECT doc_id, rnk, tok, tfidf FROM r WHERE rnk <= 3
      ORDER BY doc_id, rnk""",

    "v_mips" -> """
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
      s AS (SELECT query_id, vec_id AS neighbor_id,
              ROUND(list_dot_product(qv, v), 6) AS ip
            FROM e CROSS JOIN q WHERE vec_id <> query_id),
      r AS (SELECT query_id, neighbor_id, ip,
              CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY ip DESC, neighbor_id) AS BIGINT) AS rnk
            FROM s)
      SELECT query_id, rnk, neighbor_id, ip FROM r WHERE rnk <= 5
      ORDER BY query_id, rnk""",

    "m_clahe_hist" -> """
      WITH h AS (SELECT doc_id % 4 AS tile, doc_id % 256 AS intensity,
                   COUNT(*) AS n
                 FROM documents GROUP BY tile, intensity),
      c AS (SELECT tile, intensity, n, LEAST(n, 5) AS clipped FROM h),
      t AS (SELECT tile, intensity, n, clipped,
              CAST(SUM(n - clipped) OVER (PARTITION BY tile) AS BIGINT) AS excess,
              COUNT(*) OVER (PARTITION BY tile) AS n_bins
            FROM c)
      SELECT tile, intensity, n, clipped,
        clipped + excess // n_bins AS equalized
      FROM t ORDER BY tile, intensity""",

    "s_sliding_agg" -> """
      WITH cand AS (SELECT event_type,
              unnest([time_bucket(INTERVAL '15 minutes', ts),
                      time_bucket(INTERVAL '15 minutes', ts)
                        - INTERVAL '15 minutes']) AS win_start
            FROM events)
      SELECT strftime(win_start, '%Y-%m-%d %H:%M') AS win_start,
        event_type, COUNT(*) AS n
      FROM cand GROUP BY win_start, event_type
      ORDER BY win_start, event_type""",

    "t_pipeline" -> {
      val vals = graft.operators.TextAnalysis.stopwords.toSeq.sortBy(_._1)
        .flatMap { case (l, ws) => ws.map(w => s"('$l', '$w')") }.mkString(", ")
      s"""
      WITH $tokensCte,
      st AS (SELECT * FROM (VALUES $vals) AS s(cand_lang, word)),
      hits AS (SELECT doc_id, cand_lang, COUNT(*) AS hits
               FROM tk JOIN st ON tok = word GROUP BY doc_id, cand_lang),
      best AS (SELECT doc_id AS hd, cand_lang,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY hits DESC, cand_lang ASC) AS rn
               FROM hits),
      lp AS (SELECT d.doc_id, d.lang, COALESCE(b.cand_lang, 'und') AS pred_lang
             FROM documents d
             LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.doc_id = b.hd),
      f AS (SELECT doc_id, text, length(text) AS n_chars_t,
              list_filter(regexp_split_to_array(trim(text), '\\s+'),
                          t -> t <> '') AS toks
            FROM documents),
      g AS (SELECT doc_id, n_chars_t,
              len(toks) AS n_toks,
              n_chars_t - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS punct,
              len(list_filter(toks,
                t -> t IN ('the', 'a', 'and', 'of', 'to', 'in', 'is'))) AS stop_hits
            FROM f),
      q AS (SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks,
              ROUND(LEAST(n_chars_t, 500) / 500.0 * 0.4
                + (stop_hits / n_toks) * 0.4
                + (1.0 - punct / n_chars_t) * 0.2, 6) AS quality
            FROM g),
      keep AS (SELECT MIN(doc_id) AS doc_id FROM documents
               GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')))
      SELECT l.lang, COUNT(*) AS n_docs,
        CAST(SUM(n_toks) AS BIGINT) AS sum_tokens,
        SUM(CAST(FLOOR(quality * 1000000 + 0.5) AS BIGINT)) / 1000000.0 AS sum_quality
      FROM q
      JOIN keep k ON q.doc_id = k.doc_id
      JOIN lp l ON q.doc_id = l.doc_id
      WHERE quality >= 0.5 AND pred_lang = lang
      GROUP BY l.lang ORDER BY l.lang"""
    },

    "src_csv" -> formatsOracle,
    "src_json" -> formatsOracle,
    "src_orc" -> formatsOracle,
    // the oracle derives (id, byte length, md5) from the TABLE — a
    // hash match proves the file round-trip byte-exact without the
    // oracle ever touching the files
    "src_binary" -> s"""
      SELECT doc_id, CAST(strlen(text) AS BIGINT) AS length,
        md5(text) AS content_md5
      FROM documents WHERE doc_id < ${graft.sources.Formats.BinaryFixtureDocs}
      ORDER BY doc_id""",

    "src_bucketed" -> s"""
      SELECT COUNT(*) AS n,
        ${msum("l_extendedprice*(1-l_discount)")} AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey"""
  )

  /** All three format round-trips share one oracle: the same fidelity
    * aggregate computed on the original parquet table.
    */
  private def formatsOracle: String = s"""
      SELECT c_mktsegment, COUNT(*) AS n,
        ${msum("c_acctbal")} AS sum_bal,
        MIN(c_custkey) AS min_key, MAX(c_custkey) AS max_key
      FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  /** Round-3 additions: filtered/grouped/multi-probe/scalar-quantized
    * search, index introspection, histogram + correlation + CDC
    * compaction, PII redaction + readability, blur stencil + audio
    * energy.
    */
  val round3: Map[String, String] = Map(
    "v_filtered_knn" -> s"""
      WITH $normsCte,
      q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv, nrm AS qn
            FROM n WHERE vec_id < 10),
      s AS (SELECT query_id, n.label, vec_id AS neighbor_id,
              ROUND(list_dot_product(qv, v) / (qn * nrm), 6) AS sim
            FROM n JOIN q ON vec_id <> query_id AND n.label = qlabel),
      r AS (SELECT query_id, label, neighbor_id, sim,
              CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
            FROM s)
      SELECT query_id, label, rnk, neighbor_id, sim FROM r WHERE rnk <= 3
      ORDER BY query_id, rnk""",

    "v_knn_per_label" -> s"""
      WITH $normsCte,
      q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 3),
      s AS (SELECT query_id, n.label, vec_id AS neighbor_id,
              ROUND(list_dot_product(qv, v) / (qn * nrm), 6) AS sim
            FROM n CROSS JOIN q WHERE vec_id <> query_id),
      r AS (SELECT query_id, label, neighbor_id, sim,
              ROW_NUMBER() OVER (PARTITION BY query_id, label
                ORDER BY sim DESC, neighbor_id) AS rn
            FROM s)
      SELECT query_id, label, neighbor_id, sim FROM r WHERE rn = 1
      ORDER BY query_id, label""",

    "v_multiprobe" -> s"""
      WITH $lshBandsCte,
      flips AS (SELECT unnest([0, 1, 2, 4, 8]) AS f),
      q AS (SELECT b.vec_id AS query_id, xor(CAST(b.band0 AS BIGINT), f) AS probe,
              n.v AS qv, n.nrm AS qn
            FROM bands b JOIN n ON n.vec_id = b.vec_id CROSS JOIN flips
            WHERE b.vec_id < 10),
      cand AS (SELECT query_id, qv, qn, b.vec_id AS neighbor_id
               FROM q JOIN bands b
                 ON b.vec_id <> query_id AND CAST(b.band0 AS BIGINT) = probe),
      s AS (SELECT query_id, neighbor_id,
              ROUND(list_dot_product(qv, y.v) / (qn * y.nrm), 6) AS sim
            FROM cand JOIN n y ON y.vec_id = neighbor_id),
      r AS (SELECT query_id, neighbor_id, sim,
              CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
            FROM s)
      SELECT query_id, rnk, neighbor_id, sim FROM r WHERE rnk <= 3
      ORDER BY query_id, rnk""",

    "v_index_stats" -> s"""
      WITH $lshBandsCte,
      lf AS (SELECT 0 AS band_id, band0 AS band_val, n.label
             FROM bands b JOIN n ON n.vec_id = b.vec_id
             UNION ALL
             SELECT 1 AS band_id, band1 AS band_val, n.label
             FROM bands b JOIN n ON n.vec_id = b.vec_id)
      SELECT CAST(band_id AS BIGINT) AS band_id, CAST(band_val AS BIGINT) AS band_val,
        COUNT(*) AS n_vectors, CAST(COUNT(DISTINCT label) AS BIGINT) AS n_labels
      FROM lf GROUP BY band_id, band_val
      ORDER BY band_id, band_val""",

    "v_scalar_quant" -> s"""
      WITH $normsCte,
      dims AS (SELECT unnest(generate_series(1, 64)) AS d),
      ex AS (SELECT vec_id, d, v[d] AS x FROM e CROSS JOIN dims),
      st AS (SELECT d, MIN(x) AS mn, MAX(x) AS mx,
               CAST(ROUND(1000000.0 * (MAX(x) - MIN(x)) / 255.0, 0) AS BIGINT) AS span
             FROM ex GROUP BY d),
      cd AS (SELECT vec_id, ex.d, span,
               CASE WHEN mx = mn THEN 0
                    ELSE CAST(ROUND(255.0 * (x - mn) / (mx - mn), 0) AS BIGINT)
               END AS c
             FROM ex JOIN st ON ex.d = st.d),
      qc AS (SELECT vec_id AS query_id, d, c AS cq FROM cd WHERE vec_id < 10),
      ds AS (SELECT query_id, cd.vec_id,
               CAST(SUM((cq - c) * span * (cq - c) * span) AS BIGINT) AS qdist
             FROM cd JOIN qc ON cd.d = qc.d AND cd.vec_id <> qc.query_id
             GROUP BY query_id, cd.vec_id),
      r AS (SELECT query_id, vec_id, qdist,
              CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY qdist ASC, vec_id) AS BIGINT) AS rnk
            FROM ds)
      SELECT query_id, rnk, vec_id AS neighbor_id, qdist FROM r WHERE rnk <= 5
      ORDER BY query_id, rnk""",

    "v_rrf_fusion" -> s"""
      WITH $normsCte,
      q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 5),
      s AS (SELECT query_id, vec_id AS cand,
              ROUND(list_dot_product(qv, v) / (qn * nrm), 6) AS sim
            FROM n CROSS JOIN q WHERE vec_id <> query_id),
      vr AS (SELECT query_id AS vq, cand AS vc, rv FROM (
               SELECT query_id, cand, sim,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY sim DESC, cand) AS rv
               FROM s) t WHERE rv <= 10),
      sh0 AS (SELECT d.doc_id, d.text FROM documents d
              JOIN embeddings em ON em.vec_id = d.doc_id
              WHERE length(d.text) >= 5),
      p AS (SELECT doc_id, text, unnest(generate_series(1, length(text)-4)) AS i
            FROM sh0),
      shd AS (SELECT DISTINCT doc_id,
                CAST(('0x' || substr(md5(substr(text, i, 5)), 1, 15)) AS BIGINT)
                  % ${H.P31} AS h
              FROM p),
      qsh AS (SELECT doc_id AS query_id, h FROM shd WHERE doc_id < 5),
      ov AS (SELECT query_id, s2.doc_id, COUNT(*) AS overlap
             FROM shd s2 JOIN qsh ON s2.h = qsh.h AND s2.doc_id <> qsh.query_id
             GROUP BY query_id, s2.doc_id),
      tr AS (SELECT query_id AS tq, doc_id AS tc, rt FROM (
               SELECT query_id, doc_id, overlap,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY overlap DESC, doc_id) AS rt
               FROM ov) t WHERE rt <= 10),
      fused AS (SELECT COALESCE(vq, tq) AS query_id, COALESCE(vc, tc) AS cand,
                  ROUND(COALESCE(1.0 / (60 + rv), 0) + COALESCE(1.0 / (60 + rt), 0), 6)
                    AS rrf
                FROM vr FULL OUTER JOIN tr ON vq = tq AND vc = tc),
      r AS (SELECT query_id, cand, rrf,
              CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY rrf DESC, cand) AS BIGINT) AS rnk
            FROM fused)
      SELECT query_id, rnk, cand AS doc_id, rrf FROM r WHERE rnk <= 5
      ORDER BY query_id, rnk""",

    "d_cdc_chunks" -> s"""
      WITH c AS (SELECT doc_id, text FROM documents WHERE length(text) >= 5),
      h AS (SELECT doc_id, text,
              list_transform(generate_series(1, length(text) - 4),
                i -> CAST(('0x' || substr(md5(substr(text, i, 5)), 1, 15)) AS BIGINT)
                  % ${H.P31}) AS hs
            FROM c),
      b AS (SELECT doc_id, text, hs,
              list_filter(list_transform(generate_series(1, len(hs)),
                i -> CASE WHEN hs[i] % 64 = 0 THEN i END), x -> x IS NOT NULL) AS bpos
            FROM h),
      st AS (SELECT doc_id, text, hs,
               list_prepend(1, list_transform(bpos, x -> x + 1)) AS starts,
               list_append(bpos, len(hs)) AS ends
             FROM b),
      ch AS (SELECT doc_id, text,
               list_filter(list_transform(generate_series(1, len(starts)),
                 i -> CASE WHEN ends[i] >= starts[i]
                      THEN md5(substr(text, starts[i], ends[i] - starts[i] + 5)) END),
                 x -> x IS NOT NULL) AS chunks
             FROM st)
      SELECT doc_id, CAST(len(chunks) AS BIGINT) AS n_chunks,
        CAST(len(list_distinct(chunks)) AS BIGINT) AS n_uniq_chunks,
        chunks[1] AS head_chunk,
        length(text) / len(chunks) AS avg_chunk_len
      FROM ch ORDER BY doc_id""",

    "d_pipeline" -> s"""
      WITH $bandPairsCte,
      est0 AS (SELECT doc1, doc2,
                 SUM(CASE WHEN m1.mh = m2.mh THEN 1 ELSE 0 END) / 16.0 AS jacc_est
               FROM pairs JOIN mh m1 ON m1.doc_id = doc1
               JOIN mh m2 ON m2.doc_id = doc2 AND m2.perm_id = m1.perm_id
               GROUP BY doc1, doc2),
      nrm AS (SELECT doc_id,
                md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
              FROM documents),
      keep1 AS (SELECT MIN(doc_id) AS doc_id FROM nrm GROUP BY fp),
      losers AS (SELECT DISTINCT e.doc2 AS doc_id FROM est0 e
                 JOIN keep1 a ON e.doc1 = a.doc_id
                 JOIN keep1 b ON e.doc2 = b.doc_id
                 WHERE e.jacc_est >= 0.25),
      fin AS (SELECT doc_id FROM keep1 EXCEPT SELECT doc_id FROM losers)
      SELECT d.lang, COUNT(*) AS n_docs,
        COUNT(k.doc_id) AS n_exact_keep,
        COUNT(f.doc_id) AS n_final_keep,
        ROUND(COUNT(f.doc_id) / CAST(COUNT(*) AS DOUBLE), 4) AS keep_ratio
      FROM documents d
      LEFT JOIN keep1 k ON d.doc_id = k.doc_id
      LEFT JOIN fin f ON d.doc_id = f.doc_id
      GROUP BY d.lang ORDER BY d.lang""",

    "d_chunk_dedup" -> s"""
      WITH c AS (SELECT doc_id, text FROM documents WHERE length(text) >= 5),
      h AS (SELECT doc_id, text,
              list_transform(generate_series(1, length(text) - 4),
                i -> CAST(('0x' || substr(md5(substr(text, i, 5)), 1, 15)) AS BIGINT)
                  % ${H.P31}) AS hs
            FROM c),
      b AS (SELECT doc_id, text, hs,
              list_filter(list_transform(generate_series(1, len(hs)),
                i -> CASE WHEN hs[i] % 64 = 0 THEN i END), x -> x IS NOT NULL) AS bpos
            FROM h),
      st AS (SELECT doc_id, text, hs,
               list_prepend(1, list_transform(bpos, x -> x + 1)) AS starts,
               list_append(bpos, len(hs)) AS ends
             FROM b),
      ch AS (SELECT doc_id, text,
               list_filter(list_transform(generate_series(1, len(starts)),
                 i -> CASE WHEN ends[i] >= starts[i]
                      THEN md5(substr(text, starts[i], ends[i] - starts[i] + 5)) END),
                 x -> x IS NOT NULL) AS chunks
             FROM st),
      ex AS (SELECT unnest(chunks) AS chunk FROM ch),
      bc AS (SELECT chunk, COUNT(*) AS copies FROM ex GROUP BY chunk)
      SELECT CAST(SUM(copies) AS BIGINT) AS total_chunks,
        COUNT(*) AS uniq_chunks,
        CAST(COUNT(*) FILTER (WHERE copies > 1) AS BIGINT) AS shared_chunks,
        MAX(copies) AS max_copies,
        ROUND(100.0 * CAST(CAST(SUM(copies) AS BIGINT) - COUNT(*) AS DOUBLE)
          / CAST(CAST(SUM(copies) AS BIGINT) AS DOUBLE), 4) AS savings_pct
      FROM bc""",

    "v_refine" -> s"""
      WITH $lshBandsCte,
      vq AS (SELECT vec_id,
               list_transform(v, x -> CAST(ROUND(x * 1000, 0) AS BIGINT)) AS q
             FROM e),
      qq AS (SELECT b.vec_id AS query_id, b.band0 AS qb0, b.band1 AS qb1,
               n.v AS qv2, n.nrm AS qn, vq.q AS qvq
             FROM bands b JOIN n ON n.vec_id = b.vec_id
             JOIN vq ON vq.vec_id = b.vec_id
             WHERE b.vec_id < 10),
      cand AS (SELECT query_id, qv2, qn, qvq, b.vec_id AS neighbor_id
               FROM qq JOIN bands b
                 ON b.vec_id <> query_id AND (b.band0 = qb0 OR b.band1 = qb1)),
      sk AS (SELECT query_id, neighbor_id, qv2, qn,
               CAST(list_dot_product(CAST(qvq AS DOUBLE[]), CAST(vqn.q AS DOUBLE[]))
                 AS BIGINT) AS qdot
             FROM cand JOIN vq vqn ON vqn.vec_id = neighbor_id),
      rr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY qdot DESC, neighbor_id) AS rr FROM sk),
      ex AS (SELECT query_id, neighbor_id,
               ROUND(list_dot_product(qv2, y.v) / (qn * y.nrm), 6) AS sim
             FROM rr JOIN n y ON y.vec_id = neighbor_id
             WHERE rr.rr <= 20),
      r2 AS (SELECT query_id, neighbor_id, sim,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
             FROM ex)
      SELECT query_id, rnk, neighbor_id, sim FROM r2 WHERE rnk <= 3
      ORDER BY query_id, rnk""",

    "m_resize" -> """
      WITH a AS (SELECT doc_id FROM documents WHERE doc_id < 50),
      ys AS (SELECT unnest(generate_series(0, 15)) AS y),
      xs AS (SELECT unnest(generate_series(0, 15)) AS x),
      px AS (SELECT doc_id, y, x,
               CAST(('0x' || substr(md5('px_' || doc_id || '_' || y || '_' || x), 1, 2))
                 AS BIGINT) AS px
             FROM a CROSS JOIN ys CROSS JOIN xs),
      o AS (SELECT doc_id, y // 2 AS yo, x // 2 AS xo,
              CAST(SUM(px) AS BIGINT) // 4 AS p
            FROM px GROUP BY doc_id, yo, xo)
      SELECT doc_id, COUNT(*) AS n_px, CAST(SUM(p) AS BIGINT) AS sum_p,
        MIN(p) AS min_p, MAX(p) AS max_p
      FROM o GROUP BY doc_id ORDER BY doc_id""",

    "q_histogram" -> """
      WITH c AS (SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
                 FROM orders),
      st AS (SELECT MIN(cents) AS mnc, MAX(cents) AS mxc FROM c),
      b AS (SELECT ((cents - mnc) * 20) // (mxc - mnc + 1) AS bucket, cents, mnc, mxc
            FROM c CROSS JOIN st)
      SELECT bucket, MIN(mnc + (bucket * (mxc - mnc + 1)) // 20) / 100.0 AS bucket_lo,
        COUNT(*) AS n_orders, CAST(SUM(cents) AS BIGINT) / 100.0 AS sum_total
      FROM b GROUP BY bucket ORDER BY bucket""",

    "q_corr_stats" -> """
      WITH s AS (SELECT l_returnflag, COUNT(*) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy
             FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
                     CAST(FLOOR(l_extendedprice) AS BIGINT) AS y
                   FROM lineitem) t
             GROUP BY l_returnflag)
      SELECT l_returnflag, n,
        ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS corr_qty_price,
        ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS covar_pop
      FROM s ORDER BY l_returnflag""",

    "q_window_range" -> """
      WITH daily AS (
        SELECT l_suppkey,
          CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS day_num,
          SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS day_cents
        FROM lineitem WHERE l_suppkey <= 3
        GROUP BY l_suppkey, day_num)
      SELECT l_suppkey,
        strftime(DATE '1970-01-01' + CAST(day_num AS INTEGER), '%Y-%m-%d') AS ship_day,
        day_cents / 100.0 AS day_rev,
        CAST(SUM(day_cents) OVER (PARTITION BY l_suppkey ORDER BY day_num
          RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) / 100.0 AS wk_rev
      FROM daily
      ORDER BY l_suppkey, ship_day""",

    "q_multi_distinct" -> """
      SELECT event_type, COUNT(*) AS n,
        COUNT(DISTINCT user_id) AS n_users,
        COUNT(DISTINCT strftime(ts, '%Y-%m-%d')) AS n_days,
        COUNT(DISTINCT (user_id || '_' || strftime(ts, '%Y-%m-%d'))) AS n_user_days
      FROM events GROUP BY event_type ORDER BY event_type""",

    "t_bigram_lm" -> s"""
      WITH $bigramLmCte
      SELECT doc_id, n_bigrams,
        ROUND(list_reduce(lps, (a, b) -> a + b) / n_bigrams, 6) AS avg_logprob
      FROM ag ORDER BY doc_id""",

    // temperature mixture weights: exact token counts, Σ√p folded in
    // lang order (seedless list_reduce ≡ Spark's 0.0-seeded fold)
    "t_mix_report" -> """
      WITH per AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                 t -> t <> ''))) AS BIGINT) AS n_tokens
             FROM documents GROUP BY lang),
      tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t_tot,
                list(n_tokens ORDER BY lang) AS cs FROM per),
      zz AS (SELECT t_tot,
               list_reduce(list_transform(cs,
                 x -> sqrt(x / CAST(t_tot AS DOUBLE))), (a, b) -> a + b) AS z
             FROM tot)
      SELECT lang, n_docs, n_tokens,
        ROUND(n_tokens / CAST(t_tot AS DOUBLE), 6) AS share,
        ROUND(sqrt(n_tokens / CAST(t_tot AS DOUBLE)) / z, 6) AS weight
      FROM per, zz ORDER BY lang""",

    // mixture downsampling: the report's rates normalized to the most
    // under-represented language, reproducible md5 Bernoulli thinning
    "t_mix_sample" -> """
      WITH per AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                 t -> t <> ''))) AS BIGINT) AS n_tokens
             FROM documents GROUP BY lang),
      mn AS (SELECT MIN(n_tokens) AS nt_min FROM per),
      rates AS (SELECT lang, n_docs, n_tokens,
                  ROUND(sqrt(CAST(nt_min AS DOUBLE) / n_tokens), 6) AS rate
                FROM per, mn),
      kept AS (SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
                 CAST(SUM(len(list_filter(regexp_split_to_array(trim(d.text), '\s+'),
                   t -> t <> ''))) AS BIGINT) AS tokens_kept
               FROM documents d JOIN rates r ON r.lang = d.lang
               WHERE CAST(('0x' || substr(md5('mix_' || d.doc_id), 1, 15))
                   AS BIGINT) % 1048576
                 < CAST(FLOOR(r.rate * 1048576.0) AS BIGINT)
               GROUP BY d.lang)
      SELECT r.lang, r.n_docs, coalesce(k.n_kept, 0) AS n_kept,
        r.n_tokens, coalesce(k.tokens_kept, 0) AS tokens_kept, r.rate
      FROM rates r LEFT JOIN kept k ON k.lang = r.lang
      ORDER BY r.lang""",

    // DSIR importance weights: hashed-bigram bucket counts for the
    // 'en' target vs the whole corpus, add-1-smoothed log ratio,
    // per-doc sorted-fold mean (bigramLmCte supplies tk2/bg; its
    // further CTEs are unused here)
    "t_dsir" -> s"""
      WITH $bigramLmCte,
      lg AS (SELECT doc_id, lang FROM documents),
      feat AS (SELECT bg.doc_id, lang,
                 CAST(('0x' || substr(md5(bigram), 1, 8)) AS BIGINT) % 1024
                   AS bucket
               FROM bg JOIN lg ON bg.doc_id = lg.doc_id),
      cnt AS (SELECT bucket, COUNT(*) AS r_cnt,
                SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS t_cnt
              FROM feat GROUP BY bucket),
      dtot AS (SELECT CAST(SUM(r_cnt) AS BIGINT) AS r_tot,
                 CAST(SUM(t_cnt) AS BIGINT) AS t_tot FROM cnt),
      sc2 AS (SELECT doc_id, bucket,
                ln((t_cnt + 1) / CAST(t_tot + 1024 AS DOUBLE)) -
                ln((r_cnt + 1) / CAST(r_tot + 1024 AS DOUBLE)) AS lr
              FROM feat JOIN cnt USING (bucket) CROSS JOIN dtot),
      ag2 AS (SELECT doc_id, COUNT(*) AS n_feats,
                list(lr ORDER BY bucket, lr) AS lrs
              FROM sc2 GROUP BY doc_id)
      SELECT doc_id, n_feats,
        ROUND(list_reduce(lrs, (a, b) -> a + b) / n_feats, 6) AS avg_logratio,
        ROUND(list_reduce(lrs, (a, b) -> a + b) / n_feats, 6) > 0
          AS dsir_selected
      FROM ag2 ORDER BY doc_id""",

    // perplexity filter: bottom decile of the bigram-LM score PER
    // LANGUAGE (CCNet-style; the per-lang window keeps each sort
    // sharded). Replays t_bigram_lm, then rank vs n_lang // 10.
    "t_ppl_filter" -> s"""
      WITH $bigramLmCte,
      lm AS (SELECT doc_id,
               ROUND(list_reduce(lps, (a, b) -> a + b) / n_bigrams, 6) AS avg_logprob
             FROM ag),
      j AS (SELECT lm.doc_id, d.lang, avg_logprob
            FROM lm JOIN documents d USING (doc_id)),
      r AS (SELECT *,
              ROW_NUMBER() OVER (PARTITION BY lang
                ORDER BY avg_logprob, doc_id) AS rn,
              COUNT(*) OVER (PARTITION BY lang) AS n_lang FROM j)
      SELECT doc_id, lang, ROUND(exp(-avg_logprob), 6) AS ppl,
        rn <= n_lang // 10 AS flagged
      FROM r ORDER BY doc_id""",

    "q_scd2" -> """
      WITH ch AS (SELECT user_id, event_id, ts, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                 ORDER BY epoch_us(ts), event_id) AS prev_type
             FROM events WHERE user_id < 30),
      cg AS (SELECT user_id, event_id, ts, event_type FROM ch
             WHERE prev_type IS NULL OR prev_type <> event_type),
      v AS (SELECT user_id, event_type, ts,
              CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                ORDER BY epoch_us(ts), event_id) AS BIGINT) AS version,
              LEAD(ts) OVER (PARTITION BY user_id
                ORDER BY epoch_us(ts), event_id) AS valid_to_ts
            FROM cg)
      SELECT user_id, version, event_type,
        strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
        COALESCE(strftime(valid_to_ts, '%Y-%m-%d %H:%M:%S'),
          '9999-12-31 00:00:00') AS valid_to,
        CAST(CASE WHEN valid_to_ts IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
      FROM v ORDER BY user_id, version""",

    "q_dedup_latest" -> """
      SELECT user_id, event_type,
        strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
        event_id AS last_event_id,
        CAST(FLOOR(value * 100 + 0.5) AS BIGINT) / 100.0 AS last_value
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
              ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
            FROM events WHERE user_id < 100) t
      WHERE rn = 1
      ORDER BY user_id, event_type""",

    "t_pii_redact" -> {
      val ph = graft.operators.TextAnalysis.phoneRe
      s"""
      WITH lt AS (SELECT doc_id, lower(text) AS lt FROM documents)
      SELECT doc_id,
        CAST(len(regexp_extract_all(lt, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+'))
          AS BIGINT) AS n_emails,
        CAST(len(regexp_extract_all(lt, '$ph')) AS BIGINT) AS n_phones,
        md5(regexp_replace(regexp_replace(lt,
          '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+', '<EMAIL>', 'g'),
          '$ph', '<PHONE>', 'g')) AS red_hash
      FROM lt ORDER BY doc_id"""
    },

    "t_readability" -> s"""
      WITH c AS (SELECT doc_id,
               GREATEST(1, len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                 t -> t <> ''))) AS w,
               GREATEST(1, len(regexp_extract_all(text, '[.!?]'))) AS s,
               GREATEST(1, len(regexp_extract_all(lower(text), '[aeiouy]+'))) AS y
             FROM documents)
      SELECT doc_id, CAST(w AS BIGINT) AS n_words, CAST(s AS BIGINT) AS n_sentences,
        CAST(y AS BIGINT) AS n_vowel_groups,
        ROUND(206.835 - 1.015 * (w / s) - 84.6 * (y / w), 4) AS flesch
      FROM c ORDER BY doc_id""",

    "t_entropy" -> """
      WITH u AS (SELECT doc_id, unnest(regexp_extract_all(text, '[\s\S]')) AS ch
                 FROM documents),
      cc AS (SELECT doc_id, ch, COUNT(*) AS c FROM u GROUP BY doc_id, ch),
      ag AS (SELECT doc_id, list(c ORDER BY ch) AS cs,
               CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS n_distinct
             FROM cc GROUP BY doc_id)
      SELECT doc_id, n AS n_chars, n_distinct,
        ROUND(-list_reduce(
          list_transform(cs, c -> (c / CAST(n AS DOUBLE)) * ln(c / CAST(n AS DOUBLE))),
          (a, b) -> a + b), 6) AS entropy
      FROM ag ORDER BY doc_id""",

    "m_gauss_blur" -> """
      WITH a AS (SELECT doc_id FROM documents WHERE doc_id < 40),
      ys AS (SELECT unnest(generate_series(0, 15)) AS y),
      xs AS (SELECT unnest(generate_series(0, 15)) AS x),
      px AS (SELECT doc_id, y, x,
               CAST(('0x' || substr(md5('px_' || doc_id || '_' || y || '_' || x), 1, 2))
                 AS BIGINT) AS px
             FROM a CROSS JOIN ys CROSS JOIN xs),
      offs AS (SELECT dy.d AS dy, dx.d AS dx,
                 (CASE abs(dy.d) WHEN 0 THEN 6 WHEN 1 THEN 4 ELSE 1 END)
                   * (CASE abs(dx.d) WHEN 0 THEN 6 WHEN 1 THEN 4 ELSE 1 END) AS wgt
               FROM (SELECT unnest(generate_series(-2, 2)) AS d) dy
               CROSS JOIN (SELECT unnest(generate_series(-2, 2)) AS d) dx),
      conv AS (SELECT doc_id, y + dy AS yo, x + dx AS xo,
                 CAST(SUM(wgt * px) AS BIGINT) AS b256
               FROM px CROSS JOIN offs
               WHERE y + dy BETWEEN 0 AND 15 AND x + dx BETWEEN 0 AND 15
               GROUP BY doc_id, yo, xo)
      SELECT doc_id, COUNT(*) AS n_px,
        CAST(SUM(b256 // 256) AS BIGINT) AS sum_b,
        MIN(b256 // 256) AS min_b, MAX(b256 // 256) AS max_b
      FROM conv GROUP BY doc_id ORDER BY doc_id""",

    "m_phash" -> {
      val basisValues = graft.operators.ImagePipeline.dctBasis
        .map { case (u, y, c) => s"($u, $y, $c)" }.mkString(", ")
      s"""
      WITH a AS (SELECT doc_id FROM documents WHERE doc_id < 50),
      ys AS (SELECT unnest(generate_series(0, 15)) AS y),
      xs AS (SELECT unnest(generate_series(0, 15)) AS x),
      px AS (SELECT doc_id, y, x,
               CAST(('0x' || substr(md5('px_' || doc_id || '_' || y || '_' || x), 1, 2))
                 AS BIGINT) AS px
             FROM a CROSS JOIN ys CROSS JOIN xs),
      cb AS (SELECT * FROM (VALUES $basisValues) AS t(bu, b_y, cw)),
      t1 AS (SELECT doc_id, bu AS u, x, CAST(SUM(cw * px) AS BIGINT) AS t
             FROM px JOIN cb ON px.y = cb.b_y
             GROUP BY doc_id, bu, x),
      d2 AS (SELECT doc_id, u, c2.bu AS v, CAST(SUM(c2.cw * t) AS BIGINT) AS coef
             FROM t1 JOIN cb c2 ON t1.x = c2.b_y
             GROUP BY doc_id, u, c2.bu),
      dd AS (SELECT * FROM d2 WHERE u < 8 AND v < 8 AND NOT (u = 0 AND v = 0)),
      rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
               ORDER BY coef, u, v) AS rk FROM dd),
      md AS (SELECT doc_id AS mdid, coef AS median FROM rk WHERE rk = 32)
      SELECT dd.doc_id,
        CAST(SUM(CASE WHEN coef > median
                 THEN (CAST(1 AS BIGINT) << (u * 8 + v - 1)) ELSE 0 END) AS BIGINT)
          AS phash,
        COUNT(*) FILTER (WHERE coef > median) AS n_bits,
        MAX(median) AS median
      FROM dd JOIN md ON dd.doc_id = mdid
      GROUP BY dd.doc_id ORDER BY dd.doc_id"""
    },

    "m_phash_pairs" -> {
      val basisValues = graft.operators.ImagePipeline.dctBasis
        .map { case (u, y, c) => s"($u, $y, $c)" }.mkString(", ")
      s"""
      WITH a AS (SELECT doc_id FROM documents WHERE doc_id < 100),
      ys AS (SELECT unnest(generate_series(0, 15)) AS y),
      xs AS (SELECT unnest(generate_series(0, 15)) AS x),
      px AS (SELECT doc_id, y, x,
               CAST(('0x' || substr(md5('px_' || doc_id || '_' || y || '_' || x), 1, 2))
                 AS BIGINT) AS px
             FROM a CROSS JOIN ys CROSS JOIN xs),
      cb AS (SELECT * FROM (VALUES $basisValues) AS t(bu, b_y, cw)),
      t1 AS (SELECT doc_id, bu AS u, x, CAST(SUM(cw * px) AS BIGINT) AS t
             FROM px JOIN cb ON px.y = cb.b_y
             GROUP BY doc_id, bu, x),
      d2 AS (SELECT doc_id, u, c2.bu AS v, CAST(SUM(c2.cw * t) AS BIGINT) AS coef
             FROM t1 JOIN cb c2 ON t1.x = c2.b_y
             GROUP BY doc_id, u, c2.bu),
      dd AS (SELECT * FROM d2 WHERE u < 8 AND v < 8 AND NOT (u = 0 AND v = 0)),
      rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
               ORDER BY coef, u, v) AS rk FROM dd),
      md AS (SELECT doc_id AS mdid, coef AS median FROM rk WHERE rk = 32),
      ph AS (SELECT dd.doc_id,
               CAST(SUM(CASE WHEN coef > median
                        THEN (CAST(1 AS BIGINT) << (u * 8 + v - 1)) ELSE 0 END) AS BIGINT)
                 AS phash
             FROM dd JOIN md ON dd.doc_id = mdid
             GROUP BY dd.doc_id),
      bytes AS (SELECT doc_id, phash, k, (phash >> (k * 8)) & 255 AS byte
                FROM ph CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS k) ks),
      cands AS (SELECT DISTINCT b1.doc_id AS doc1, b2.doc_id AS doc2,
                  b1.phash AS h1, b2.phash AS h2
                FROM bytes b1 JOIN bytes b2
                  ON b1.k = b2.k AND b1.byte = b2.byte AND b1.doc_id < b2.doc_id)
      SELECT doc1, doc2, CAST(bit_count(xor(h1, h2)) AS BIGINT) AS hamming
      FROM cands
      ORDER BY hamming, doc1, doc2 LIMIT 20"""
    },

    // video near-dup replay: same content-keyed frame hashes, overlap
    // via the frame-hash equi-join, unrounded jaccard filter
    "m_video_dedup" -> """
      WITH f AS (SELECT doc_id, doc_id % 20 AS content,
               (doc_id % 20) * 7 + 30 + (doc_id // 20) * 3 AS n_frames
             FROM documents WHERE doc_id < 40),
      s AS (SELECT doc_id, content, n_frames,
              GREATEST(1, n_frames // 8) AS step FROM f),
      x AS (SELECT doc_id, content,
              unnest(generate_series(0, n_frames - 1, step)) AS idx FROM s),
      sig AS (SELECT doc_id,
                CAST(('0x' || substr(md5('vf_' || content || '_' || idx), 1, 15))
                  AS BIGINT) AS fh
              FROM x),
      cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nf
              FROM sig GROUP BY doc_id),
      shared AS (SELECT l.doc_id AS doc1, r.doc_id AS doc2,
                   CAST(COUNT(*) AS BIGINT) AS n_shared
                 FROM sig l JOIN sig r
                   ON l.fh = r.fh AND l.doc_id < r.doc_id
                 GROUP BY 1, 2),
      j AS (SELECT doc1, doc2, n_shared, a.nf AS n1, b.nf AS n2,
              n_shared / CAST(a.nf + b.nf - n_shared AS DOUBLE) AS jac
            FROM shared JOIN cnt a ON a.doc_id = doc1
              JOIN cnt b ON b.doc_id = doc2)
      SELECT doc1, doc2, n_shared, n1, n2, ROUND(jac, 6) AS jaccard
      FROM j WHERE jac >= 0.3 ORDER BY doc1, doc2""",

    // shot-boundary replay: per-bin rows + LAG instead of the engine's
    // array zip — the L1 sums are exact int64 either way
    "m_shot_detect" -> """
      WITH fr AS (SELECT doc_id,
               unnest(generate_series(0, doc_id % 60 + 29)) AS frame
             FROM documents WHERE doc_id < 30),
      sc AS (SELECT doc_id, frame, frame // (doc_id % 5 + 8) AS scene FROM fr),
      bs AS (SELECT unnest(generate_series(0, 7)) AS b),
      bins AS (SELECT doc_id, frame, b,
                 CAST(('0x' || substr(md5('hist_' || doc_id || '_' || scene
                   || '_' || b), 1, 2)) AS BIGINT) +
                 CAST(('0x' || substr(md5('nz_' || doc_id || '_' || frame
                   || '_' || b), 1, 1)) AS BIGINT) % 8 AS h
               FROM sc CROSS JOIN bs),
      d AS (SELECT doc_id, frame, b, h,
              LAG(h) OVER (PARTITION BY doc_id, b ORDER BY frame) AS hp
            FROM bins),
      l1 AS (SELECT doc_id, frame, CAST(SUM(ABS(h - hp)) AS BIGINT) AS l1_dist
             FROM d WHERE hp IS NOT NULL GROUP BY doc_id, frame)
      SELECT doc_id, frame, l1_dist FROM l1 WHERE l1_dist > 200
      ORDER BY doc_id, frame""",

    // linear-interp resample replay: identical expression order keeps
    // the doubles bit-equal; sums run over integer-quantized samples
    "m_audio_resample" -> """
      WITH js AS (SELECT unnest(generate_series(0, 319)) AS j),
      ds AS (SELECT doc_id FROM documents WHERE doc_id < 50),
      pos AS (SELECT doc_id, j, (j * 511) / 319.0 AS p FROM ds CROSS JOIN js),
      ip AS (SELECT doc_id, j, p, CAST(floor(p) AS BIGINT) AS i0,
               p - CAST(floor(p) AS BIGINT) AS fr FROM pos),
      sm AS (SELECT doc_id, j, fr,
               CAST(('0x' || substr(md5('pcm_' || doc_id || '_' || i0), 1, 2))
                 AS BIGINT) - 128 AS s0,
               CAST(('0x' || substr(md5('pcm_' || doc_id || '_' ||
                   LEAST(i0 + 1, 511)), 1, 2)) AS BIGINT) - 128 AS s1
             FROM ip),
      o AS (SELECT doc_id,
              CAST(ROUND((s0 * (1.0 - fr) + s1 * fr) * 1000, 0) AS BIGINT) AS q
            FROM sm)
      SELECT doc_id, COUNT(*) AS n_out, CAST(SUM(q) AS BIGINT) AS checksum,
        CAST(SUM(q * q) AS BIGINT) AS sumsq,
        ROUND(sqrt(CAST(SUM(q * q) AS DOUBLE) / COUNT(*)) / 1000, 6) AS rms
      FROM o GROUP BY doc_id ORDER BY doc_id""",

    "m_audio_energy" -> """
      WITH fr AS (SELECT unnest(generate_series(0, 7)) AS frame),
      ss AS (SELECT unnest(generate_series(0, 63)) AS i),
      samp AS (SELECT doc_id, frame,
                 CAST(('0x' || substr(md5('pcm_' || doc_id || '_' || (frame * 64 + i)), 1, 2))
                   AS BIGINT) - 128 AS s
               FROM documents CROSS JOIN fr CROSS JOIN ss
               WHERE doc_id < 50)
      SELECT doc_id, CAST(frame AS BIGINT) AS frame, COUNT(*) AS n_samples,
        CAST(SUM(s * s) AS BIGINT) AS energy,
        ROUND(sqrt(CAST(SUM(s * s) AS DOUBLE) / 64.0), 6) AS rms
      FROM samp GROUP BY doc_id, frame ORDER BY doc_id, frame"""
  )

  /** Shared ingest CTEs of the m_pipeline oracles (md5-fake detect
    * boxes → crop tag → md5-fake embed → vectors + norms), ending with
    * `nn` (crop_id, doc_id, label, v, nrm).
    */
  private val mPipelineBase: String = """di AS (SELECT unnest(generate_series(0, 2)) AS i),
      base AS (SELECT doc_id, text,
          CAST(('0x' || substr(md5(text || '_n'), 1, 8)) AS BIGINT) % 3 + 1 AS n
        FROM documents WHERE doc_id < 20),
      raw AS (SELECT doc_id, i, text,
          CAST(CAST(('0x' || substr(md5(text || '_x' || i), 1, 8)) AS BIGINT) AS DOUBLE)
            / 4294967296.0 AS xc,
          CAST(CAST(('0x' || substr(md5(text || '_y' || i), 1, 8)) AS BIGINT) AS DOUBLE)
            / 4294967296.0 AS yc,
          CAST(CAST(('0x' || substr(md5(text || '_w' || i), 1, 8)) AS BIGINT) AS DOUBLE)
            / 4294967296.0 / 4.0 AS w,
          CAST(CAST(('0x' || substr(md5(text || '_h' || i), 1, 8)) AS BIGINT) AS DOUBLE)
            / 4294967296.0 / 4.0 AS h,
          CAST(('0x' || substr(md5(text || '_c' || i), 1, 8)) AS BIGINT) % 5 AS class_id,
          ROUND(CAST(('0x' || substr(md5(text || '_s' || i), 1, 8)) AS BIGINT)
            / 4294967296.0, 6) AS score
        FROM base CROSS JOIN di WHERE i < n),
      boxes AS (SELECT doc_id, i, class_id, score, text,
          CAST(trunc(xc * 640 - CAST(trunc(w * 640) AS BIGINT) / 2.0) AS BIGINT) AS x1,
          CAST(trunc(yc * 480 - CAST(trunc(h * 480) AS BIGINT) / 2.0) AS BIGINT) AS y1
        FROM raw),
      crops AS (SELECT doc_id * 10 + i AS crop_id, doc_id, class_id AS label, score,
          text || '_' || x1 || '_' || y1 AS cropstr
        FROM boxes),
      qb AS (SELECT crop_id FROM (
               SELECT crop_id, ROW_NUMBER() OVER (PARTITION BY doc_id
                 ORDER BY score DESC, crop_id) AS rq
               FROM crops WHERE doc_id < 3) z WHERE rq = 1),
      dd AS (SELECT unnest(generate_series(1, 8)) AS d),
      embs AS (SELECT crop_id, doc_id, label, d,
          ROUND(CAST(('0x' || substr(md5(cropstr || '_' || d), 1, 8)) AS BIGINT)
            / 4294967296.0, 6) AS f
        FROM crops CROSS JOIN dd),
      vecs AS (SELECT crop_id, doc_id, label, list(f ORDER BY d) AS v
               FROM embs GROUP BY crop_id, doc_id, label),
      nn AS (SELECT crop_id, doc_id, label, v,
               sqrt(list_dot_product(v, v)) AS nrm FROM vecs)"""

  /** Shared CTE prefix of the REAL-DECODE pipelines (m_pipeline_decode
    * / m_pipeline_real): the closed pixel form through γ-LUT and the
    * 5×5 stencil, plus the deterministic detector boxes through the
    * exact normalized→pixel truncation math. Ends with `elut`
    * (doc_id, y, x, lpx) and `ebox` (doc_id, i, label, score,
    * x1, y1, x2, y2).
    */
  private val mDecodePrefix: String = """exs AS (SELECT unnest(generate_series(0, 31)) AS x),
      eys AS (SELECT unnest(generate_series(0, 23)) AS y),
      eid AS (SELECT doc_id FROM documents WHERE doc_id < 8),
      epx AS (SELECT doc_id, y, x,
                ((31 * doc_id + 5) + 7 * y + 13 * x) % 256 AS px
              FROM eid CROSS JOIN eys CROSS JOIN exs),
      eglut AS (SELECT doc_id, y, x,
                 CAST(trunc(pow(px / 255.0, 1.0 / 1.5) * 255) AS BIGINT) AS gpx
               FROM epx),
      edy AS (SELECT unnest(generate_series(-1, 1)) AS dy),
      edx AS (SELECT unnest(generate_series(-1, 1)) AS dx),
      eoffs AS (SELECT dy, dx,
                  (CASE WHEN dy = 0 THEN 2 ELSE 1 END)
                  * (CASE WHEN dx = 0 THEN 2 ELSE 1 END) AS wgt
                FROM edy CROSS JOIN edx),
      elut AS MATERIALIZED (SELECT o.doc_id, o.y, o.x,
                 (CAST(SUM(wgt * g.gpx) AS BIGINT) + 8) // 16 AS lpx
               FROM eglut o CROSS JOIN eoffs
               JOIN eglut g ON g.doc_id = o.doc_id
                 AND g.y = CASE WHEN o.y + dy < 0 THEN -(o.y + dy)
                                WHEN o.y + dy > 23 THEN 46 - (o.y + dy)
                                ELSE o.y + dy END
                 AND g.x = CASE WHEN o.x + dx < 0 THEN -(o.x + dx)
                                WHEN o.x + dx > 31 THEN 62 - (o.x + dx)
                                ELSE o.x + dx END
               GROUP BY o.doc_id, o.y, o.x),
      edi AS (SELECT unnest(generate_series(0, 2)) AS i),
      eraw AS (SELECT doc_id, i,
          ((doc_id % 5) * 2 + i + 6) / 20.0 AS xc,
          (doc_id % 7 + 2) / 10.0 AS yc,
          (doc_id % 3 + 2) / 10.0 AS w,
          (doc_id % 4 + 2) / 10.0 AS h,
          (doc_id * 7 + i) % 5 AS label,
          ROUND(CAST(('0x' || substr(md5('sc_' || doc_id || '_' || i), 1, 8))
            AS BIGINT) / 4294967296.0, 6) AS score
        FROM eid CROSS JOIN edi WHERE i <= doc_id % 3),
      ebox AS (SELECT doc_id, i, label, score,
          CAST(trunc(xc * 32 - CAST(trunc(w * 32) AS BIGINT) / 2.0) AS BIGINT) AS x1,
          CAST(trunc(yc * 24 - CAST(trunc(h * 24) AS BIGINT) / 2.0) AS BIGINT) AS y1,
          CAST(trunc(xc * 32 - CAST(trunc(w * 32) AS BIGINT) / 2.0) AS BIGINT)
            + CAST(trunc(w * 32) AS BIGINT) AS x2,
          CAST(trunc(yc * 24 - CAST(trunc(h * 24) AS BIGINT) / 2.0) AS BIGINT)
            + CAST(trunc(h * 24) AS BIGINT) AS y2
        FROM eraw)"""

  /** Query flow + label vote over any candidate CTE `s` (query_id,
    * neighbor_id, neighbor_label, sim): top-5 rank, majority vote.
    */
  private val mPipelineVote: String = """
      r AS (SELECT query_id, neighbor_id, neighbor_label, sim,
              CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
            FROM s),
      top AS (SELECT * FROM r WHERE rnk <= 5),
      votes AS (SELECT query_id, neighbor_label, COUNT(*) AS nv FROM top
                GROUP BY query_id, neighbor_label),
      pred AS (SELECT query_id, neighbor_label AS pred_label, nv AS pred_votes,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY nv DESC, neighbor_label) AS rv
               FROM votes),
      cn AS (SELECT * FROM (VALUES (0, 'Glioma Tumor'), (1, 'Meningioma Tumor'),
               (2, 'No Tumor'), (3, 'Pituitary Tumor'), (4, 'Unknown Tumor'))
             AS t(label, cname))
      SELECT t.query_id, t.rnk, t.neighbor_id, t.sim, t.neighbor_label,
        n1.cname AS neighbor_name, p.pred_label, n2.cname AS pred_name,
        p.pred_votes
      FROM top t JOIN pred p ON p.query_id = t.query_id AND p.rv = 1
      JOIN cn n1 ON n1.label = t.neighbor_label
      JOIN cn n2 ON n2.label = p.pred_label
      ORDER BY t.query_id, t.rnk"""

  /** Round-6 additions: partitioned layout + DPP, the end-to-end
    * multimodal pipeline, and the sketch error gates.
    */
  val round6: Map[String, String] = Map(
    // sketch error gates: the oracle asserts the BOUND, not the
    // sketch internals — expected within-tolerance flags are literal
    // TRUE, so sketch drift breaks the hash match
    "q_approx_distinct_err" -> """
      SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        TRUE AS within_tol
      FROM events GROUP BY event_type ORDER BY event_type""",

    "q_approx_quantiles_err" -> """
      SELECT l_returnflag, COUNT(*) AS n,
        TRUE AS p25_ok, TRUE AS p50_ok, TRUE AS p75_ok
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    // count-min guarantee: estimates never undercount, and at
    // eps=0.001 / 5 keys the overcount stays within eps*total
    "q_cms_err" -> """
      SELECT event_type, COUNT(*) AS n, TRUE AS ge_ok, TRUE AS tight_ok
      FROM events GROUP BY event_type ORDER BY event_type""",

    // heavy-hitters guarantee: every exact >=15%-support item must be
    // in the sketch output (false positives allowed, misses are not)
    "q_freq_items" -> """
      WITH t AS (SELECT COUNT(*) AS total FROM events)
      SELECT event_type, COUNT(*) AS n, TRUE AS in_sketch
      FROM events CROSS JOIN t
      GROUP BY event_type, total HAVING COUNT(*) > total * 0.15
      ORDER BY event_type""",

    // the persisted index paths share their in-session twins' oracles:
    // deterministic training makes store search ≡ in-session search
    "v_ivf_store" -> vector("v_ivf"),
    "v_pq_store" -> vector("v_pq"),
    "v_flat_store" -> vector("v_knn_exact"),
    "v_bq_store" -> vector("v_bq"),
    "v_filtered_store" -> round3("v_filtered_knn"),
    "v_opq_store" -> vector("v_opq"),
    // the learned transform persists as a sidecar and is read back at
    // serve time — store search ≡ in-session search, oracle shared
    "v_opq_learned_store" -> vector("v_opq_learned"),
    "v_ivf_pq_store" -> vector("v_ivf_pq"),
    // the residual brand travels with the store (its model file):
    // persisted residual route ≡ in-session residual route
    "v_ivf_pq_res_store" -> vector("v_ivf_pq_res"),
    "v_ivf_bq_store" -> vector("v_ivf_bq"),
    // store search ≡ in-session search holds with no training at all
    // here (sign codes are deterministic), and the shared oracle is
    // itself a brute force — so a match proves round-trip + pruning
    "v_bq_range_store" -> vector("v_bq_range"),

    // benchmark decontamination: distinct-shingle inverted-index join
    // of the corpus against the (broadcastable) eval set
    "t_decontaminate" -> s"""
      WITH $shinglesCte,
      shd AS (SELECT DISTINCT doc_id, h FROM sh),
      ev AS (SELECT doc_id AS eval_id, h FROM shd WHERE doc_id < 10),
      sz AS (SELECT eval_id, COUNT(*) AS eval_sh FROM ev GROUP BY eval_id),
      hits AS (SELECT s.doc_id, e.eval_id, COUNT(*) AS n_shared
               FROM shd s JOIN ev e ON s.h = e.h AND s.doc_id >= 10
               GROUP BY s.doc_id, e.eval_id),
      scored AS (SELECT h.doc_id, h.eval_id, h.n_shared,
          ROUND(CAST(h.n_shared AS DOUBLE) / sz.eval_sh, 6) AS containment
        FROM hits h JOIN sz ON sz.eval_id = h.eval_id)
      SELECT doc_id, eval_id, n_shared, containment
      FROM scored WHERE containment >= 0.6
      ORDER BY doc_id, eval_id""",

    // streaming contiguous sequence packing per language shard:
    // seq_id = floor(tokens-before-me / 512) in doc_id order
    "t_pack" -> """
      WITH tc AS (SELECT doc_id, lang,
              CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                t -> t <> '')) AS BIGINT) AS n_toks
            FROM documents),
      cum AS (SELECT doc_id, lang, n_toks,
                SUM(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM tc),
      packed AS (SELECT lang, CAST(FLOOR((cum - n_toks) / 512) AS BIGINT) AS seq_id,
                   n_toks FROM cum)
      SELECT lang, seq_id, COUNT(*) AS n_docs,
        CAST(SUM(n_toks) AS BIGINT) AS seq_tokens,
        ROUND(CAST(SUM(n_toks) AS DOUBLE) / 512.0, 6) AS fill
      FROM packed GROUP BY lang, seq_id ORDER BY lang, seq_id""",

    // the oracle sees only the SEMANTICS (month-filtered join+agg);
    // the partition layout and the DynamicPruningExpression on the
    // fact scan are asserted plan-side in Round6Spec
    // Z-order rectangle: the oracle scans the RAW table with the same
    // rectangle predicate — a hash match proves the engine's zone-map
    // file skipping admitted every needed file. Bounds replicate the
    // Scala integer arithmetic (// is integer division in DuckDB).
    "src_zorder" -> s"""
      WITH b AS (SELECT min(user_id) AS umin, max(user_id) AS umax FROM events)
      SELECT event_type, COUNT(*) AS n, ${msum("value")} AS sum_value
      FROM events, b
      WHERE user_id >= umin + (umax - umin + 1) // 5
        AND user_id <= umin + (umax - umin + 1) * 3 // 10
        AND ts >= TIMESTAMP '2024-01-10 00:00:00'
        AND ts < TIMESTAMP '2024-01-15 00:00:00'
      GROUP BY event_type ORDER BY event_type""",

    "src_partitioned" -> s"""
      WITH f AS (SELECT substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS o_month,
                   o_orderpriority, o_totalprice
                 FROM orders),
      d AS (SELECT DISTINCT substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS m
            FROM orders WHERE year(o_orderdate) = 1996)
      SELECT o_month, o_orderpriority, COUNT(*) AS n,
        ${msum("o_totalprice")} AS revenue
      FROM f JOIN d ON f.o_month = d.m
      GROUP BY o_month, o_orderpriority
      ORDER BY o_month, o_orderpriority""",

    // the reference's whole program in one query: md5-fake detect
    // boxes (the m_detect math) → crop tag → md5-fake embed (the
    // m_embed_scaffold math) → exact cosine top-5 → majority label
    // vote (ties to the smallest label)
    // the end-to-end program with REAL decode: the closed pixel form
    // goes through LUT -> bbox crop -> content-hash embedding, so a
    // single wrong pixel in the engine's decode path changes the
    // neighbor ranking and the vote
    "m_pipeline_decode" -> s"""
      WITH $mDecodePrefix,
      ecrop AS (SELECT b.doc_id * 10 + i AS crop_id, b.doc_id, label, score,
          md5(string_agg(lpx::VARCHAR, ',' ORDER BY y, x)) AS sig
        FROM ebox b JOIN elut p ON p.doc_id = b.doc_id
        WHERE x >= x1 AND x < x2 AND y >= y1 AND y < y2
        GROUP BY 1, 2, 3, 4),
      qb AS (SELECT crop_id FROM (
               SELECT crop_id, ROW_NUMBER() OVER (PARTITION BY doc_id
                 ORDER BY score DESC, crop_id) AS rq
               FROM ecrop WHERE doc_id < 3) z WHERE rq = 1),
      dd AS (SELECT unnest(generate_series(1, 8)) AS d),
      embs AS (SELECT crop_id, doc_id, label, d,
          ROUND(CAST(('0x' || substr(md5(sig || '_' || d), 1, 8)) AS BIGINT)
            / 4294967296.0, 6) AS f
        FROM ecrop CROSS JOIN dd),
      vecs AS (SELECT crop_id, doc_id, label, list(f ORDER BY d) AS v
               FROM embs GROUP BY crop_id, doc_id, label),
      nn AS (SELECT crop_id, doc_id, label, v,
               sqrt(list_dot_product(v, v)) AS nrm FROM vecs),
      q AS (SELECT nn.crop_id AS query_id, v AS qv, nrm AS qn
            FROM nn JOIN qb ON qb.crop_id = nn.crop_id),
      s AS (SELECT query_id, nn.crop_id AS neighbor_id, nn.label AS neighbor_label,
              ROUND(list_dot_product(qv, v) / (qn * nrm), 6) AS sim
            FROM nn CROSS JOIN q WHERE nn.crop_id <> query_id),
      $mPipelineVote""",

    "m_pipeline" -> s"""
      WITH $mPipelineBase,
      q AS (SELECT nn.crop_id AS query_id, v AS qv, nrm AS qn
            FROM nn JOIN qb ON qb.crop_id = nn.crop_id),
      s AS (SELECT query_id, nn.crop_id AS neighbor_id, nn.label AS neighbor_label,
              ROUND(list_dot_product(qv, v) / (qn * nrm), 6) AS sim
            FROM nn CROSS JOIN q WHERE nn.crop_id <> query_id),
      $mPipelineVote""",

    // the same program on the banded serving tier: candidates must
    // share the query's LSH band-0 bucket (the persisted index's
    // partition column), then exact rescoring + vote inside the bucket
    "m_pipeline_ann" -> s"""
      WITH $mPipelineBase,
      dims8 AS (SELECT unnest(generate_series(1, 8)) AS d),
      js4 AS (SELECT unnest(generate_series(0, 3)) AS j),
      dots AS (SELECT crop_id, j,
          SUM((CASE WHEN strpos('0123456789abcdef',
                 substr(md5('hp_' || j || '_' || d), 1, 1)) <= 8
               THEN 1 ELSE -1 END)
              * CAST(ROUND(v[d] * 1000, 0) AS BIGINT)) AS dot
        FROM nn CROSS JOIN dims8 CROSS JOIN js4
        GROUP BY crop_id, j),
      bands AS (SELECT crop_id,
          CAST(SUM(CASE WHEN dot > 0 THEN 1 << j ELSE 0 END) AS BIGINT) AS band0
        FROM dots GROUP BY crop_id),
      q AS (SELECT nn.crop_id AS query_id, v AS qv, nrm AS qn, b.band0 AS qb0
            FROM nn JOIN bands b ON b.crop_id = nn.crop_id
            JOIN qb ON qb.crop_id = nn.crop_id),
      s AS (SELECT query_id, nn.crop_id AS neighbor_id, nn.label AS neighbor_label,
              ROUND(list_dot_product(qv, v) / (qn * nrm), 6) AS sim
            FROM nn JOIN bands cb ON cb.crop_id = nn.crop_id
            JOIN q ON nn.crop_id <> q.query_id
              AND bit_count(xor(cb.band0, q.qb0)) <= 1),
      $mPipelineVote"""
  )

  /** Round-8 additions: the REAL convnet forward pass replayed layer
    * by layer in SQL.
    */
  /** The unrolled BPE merge-round chain shared by t_bpe_train /
    * t_bpe_apply (assumes nothing; includes tokensCte). Carries the
    * original word `w` through every round so application can join
    * piece counts back to the corpus.
    */
  private def bpeCte(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(s"""$tokensCte,
      wf AS (SELECT tok AS w, COUNT(*) AS f FROM tk GROUP BY tok),
      w0 AS (SELECT w, ' ' || trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' ' AS sp, f
             FROM wf)""")
    for (r <- 1 to rounds) {
      sb.append(s""",
      a$r AS (SELECT w, sp, f, string_split(trim(sp), ' ') AS a FROM w${r - 1}),
      c$r AS (SELECT a[i] AS x, a[i + 1] AS y, CAST(SUM(f) AS BIGINT) AS n
             FROM a$r, UNNEST(generate_series(1, len(a) - 1)) AS t(i)
             GROUP BY a[i], a[i + 1]),
      b$r AS (SELECT x, y, n FROM c$r ORDER BY n DESC, x, y LIMIT 1),
      w$r AS (SELECT w,
               list_reduce(list_prepend('', a),
                 (acc, s) -> CASE WHEN ends_with(acc, ' ' || x) AND s = y
                             THEN acc || s ELSE acc || ' ' || s END) || ' ' AS sp, f
             FROM a$r CROSS JOIN b$r)""")
    }
    sb.toString
  }

  /** Shared CTE prefix of the maxsim oracles: sampled vector sets,
    * query side, per-hash integer vectors.
    */
  private val maxsimBaseCte: String = s"""$shinglesCte,
      samp AS (SELECT DISTINCT doc_id, h FROM sh WHERE h % 16 = 0),
      mqs AS (SELECT doc_id AS q_id, h FROM samp WHERE doc_id < 3),
      mcand AS (SELECT q_id, doc_id FROM (
                 SELECT q.q_id, d.doc_id, COUNT(DISTINCT q.h) AS shared
                 FROM mqs q JOIN samp d ON d.h = q.h AND d.doc_id <> q.q_id
                 GROUP BY q.q_id, d.doc_id) t WHERE shared >= 2),
      mkk AS (SELECT unnest(generate_series(1, 4)) AS k),
      mhs AS (SELECT DISTINCT h FROM samp),
      mtv AS (SELECT h, k,
               CAST(('0x' || substr(md5('mv' || k || '_' || h), 1, 8)) AS BIGINT)
                 % 201 - 100 AS w
             FROM mhs CROSS JOIN mkk)"""

  /** Σ max ⟨q,d⟩ + top-5 over a candidate CTE, with CTE names prefixed
    * so the blocked and exhaustive branches can coexist in one query.
    */
  private def maxsimScoreCte(pfx: String, candCte: String): String = s"""
      ${pfx}pr AS (SELECT c.q_id, c.doc_id, q.h AS qh, d.h AS dh,
               CAST(SUM(tq.w * td.w) AS BIGINT) AS dot
             FROM $candCte c JOIN mqs q ON q.q_id = c.q_id
             JOIN samp d ON d.doc_id = c.doc_id
             JOIN mtv tq ON tq.h = q.h
             JOIN mtv td ON td.h = d.h AND td.k = tq.k
             GROUP BY c.q_id, c.doc_id, q.h, d.h),
      ${pfx}mx AS (SELECT q_id, doc_id, qh, MAX(dot) AS m
             FROM ${pfx}pr GROUP BY q_id, doc_id, qh),
      ${pfx}sc AS (SELECT q_id, doc_id, CAST(SUM(m) AS BIGINT) AS score
             FROM ${pfx}mx GROUP BY q_id, doc_id),
      ${pfx}top AS (SELECT q_id, doc_id, score, rnk FROM (
             SELECT q_id, doc_id, score,
               CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
             FROM ${pfx}sc) t WHERE rnk <= 5)"""

  /** Shared by v_maxsim and v_maxsim_store (the persisted inverted
    * layout must reproduce the in-session tier exactly).
    */
  private val vMaxsimSql: String = s"""
      WITH $maxsimBaseCte, ${maxsimScoreCte("m", "mcand")}
      SELECT q_id AS query_id, rnk, doc_id, score FROM mtop
      ORDER BY query_id, rnk"""

  /** v_maxsim_recall: blocked top-5 vs the EXHAUSTIVE-candidate top-5
    * (every (query, doc) pair scored) — what the ≥2-shared-fingerprint
    * candidate filter costs.
    */
  private val vMaxsimRecallSql: String = s"""
      WITH $maxsimBaseCte,
      xcand AS (SELECT q.q_id, d.doc_id
                FROM (SELECT DISTINCT q_id FROM mqs) q
                CROSS JOIN (SELECT DISTINCT doc_id FROM samp) d
                WHERE d.doc_id <> q.q_id),
      ${maxsimScoreCte("m", "mcand")},
      ${maxsimScoreCte("x", "xcand")}
      SELECT e.q_id AS query_id, CAST(COUNT(b.doc_id) AS BIGINT) AS hits,
        ROUND(COUNT(b.doc_id) / 5.0, 6) AS recall
      FROM xtop e LEFT JOIN mtop b
        ON b.q_id = e.q_id AND b.doc_id = e.doc_id
      GROUP BY e.q_id ORDER BY query_id"""

  /** Shared by q_anomaly and q_rate_store (the store must reproduce
    * the one-shot ranking exactly).
    */
  private val qAnomalySql: String = """
      WITH h AS (SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour,
               event_type, COUNT(*) AS n
             FROM events GROUP BY hour, event_type),
      st AS (SELECT event_type, COUNT(*) AS nh, CAST(SUM(n) AS BIGINT) AS s,
               CAST(SUM(n * n) AS BIGINT) AS ss
             FROM h GROUP BY event_type),
      z AS (SELECT h.event_type, h.hour, h.n,
              ROUND((h.n * st.nh - st.s)
                / sqrt(CAST(st.nh * st.ss - st.s * st.s AS DOUBLE)), 6) AS z
            FROM h JOIN st ON st.event_type = h.event_type
            WHERE st.nh > 1 AND st.nh * st.ss - st.s * st.s > 0),
      r AS (SELECT event_type, hour, n, z,
              ROW_NUMBER() OVER (PARTITION BY event_type
                ORDER BY ABS(z) DESC, hour) AS rnk
            FROM z)
      SELECT event_type, rnk, hour, n, z FROM r WHERE rnk <= 3
      ORDER BY event_type, rnk"""

  val round8: Map[String, String] = Map(
    // the reference program with actual tensor math in the inference
    // seat: decode → LUT → blur → clamped crop → bilinear Resize
    // (shortest-side 10) → CenterCrop 8×8 → fixed-point Normalize →
    // 3×3 conv ×4 → ReLU → 2×2 max-pool → dense 36→8 (+bias) →
    // cosine top-5 → majority vote. Weight formulas are the literal
    // closed forms of ConvNet.convW / ConvNet.fcW; a hash match
    // proves every activation of the engine's batched Arrow-columnar
    // forward pass.
    "m_pipeline_real" -> s"""
      WITH $mDecodePrefix,
      ecb AS (SELECT doc_id * 10 + i AS crop_id, doc_id, label, score,
          GREATEST(x1, 0) AS cx1, GREATEST(y1, 0) AS cy1,
          LEAST(x2, 32) - GREATEST(x1, 0) AS cw,
          LEAST(y2, 24) - GREATEST(y1, 0) AS ch
        FROM ebox),
      ers AS (SELECT crop_id, doc_id, cx1, cy1, cw, ch,
          CASE WHEN cw <= ch THEN 10 ELSE (2*cw*10 + ch) // (2*ch) END AS nw,
          CASE WHEN cw <= ch THEN (2*ch*10 + cw) // (2*cw) ELSE 10 END AS nh
        FROM ecb WHERE cw > 0 AND ch > 0),
      t8 AS (SELECT unnest(generate_series(0, 7)) AS t),
      eya AS (SELECT r.crop_id, t.t AS ty, 2*r.nh AS yd, r.ch AS ys,
          (2*((r.nh - 8) // 2 + t.t) + 1) * r.ch - r.nh AS ynum
        FROM ers r CROSS JOIN t8 t),
      eyb AS (SELECT crop_id, ty, yd,
          CASE WHEN ynum < 0 THEN 0 ELSE ynum // yd END AS y0,
          CASE WHEN ynum < 0 THEN 0 ELSE ynum - (ynum // yd) * yd END AS fy,
          LEAST(CASE WHEN ynum < 0 THEN 0 ELSE ynum // yd END + 1, ys - 1) AS y1
        FROM eya),
      exa AS (SELECT r.crop_id, t.t AS tx, 2*r.nw AS xd, r.cw AS xs,
          (2*((r.nw - 8) // 2 + t.t) + 1) * r.cw - r.nw AS xnum
        FROM ers r CROSS JOIN t8 t),
      exb AS (SELECT crop_id, tx, xd,
          CASE WHEN xnum < 0 THEN 0 ELSE xnum // xd END AS x0,
          CASE WHEN xnum < 0 THEN 0 ELSE xnum - (xnum // xd) * xd END AS fx,
          LEAST(CASE WHEN xnum < 0 THEN 0 ELSE xnum // xd END + 1, xs - 1) AS x1
        FROM exa),
      ebil AS (SELECT y.crop_id, y.ty, x.tx,
          ((y.yd - y.fy) * ((x.xd - x.fx) * p00.lpx + x.fx * p01.lpx)
           + y.fy * ((x.xd - x.fx) * p10.lpx + x.fx * p11.lpx))
          // (y.yd * x.xd) AS bpx
        FROM eyb y
        JOIN exb x ON x.crop_id = y.crop_id
        JOIN ers r ON r.crop_id = y.crop_id
        JOIN elut p00 ON p00.doc_id = r.doc_id
          AND p00.y = r.cy1 + y.y0 AND p00.x = r.cx1 + x.x0
        JOIN elut p01 ON p01.doc_id = r.doc_id
          AND p01.y = r.cy1 + y.y0 AND p01.x = r.cx1 + x.x1
        JOIN elut p10 ON p10.doc_id = r.doc_id
          AND p10.y = r.cy1 + y.y1 AND p10.x = r.cx1 + x.x0
        JOIN elut p11 ON p11.doc_id = r.doc_id
          AND p11.y = r.cy1 + y.y1 AND p11.x = r.cx1 + x.x1),
      eresz AS (SELECT crop_id, ty, tx,
          ((bpx * 1000000) // 255 - 449000 + 452000) // 226 - 2000 AS px
        FROM ebil),
      k3 AS (SELECT unnest(generate_series(0, 2)) AS k),
      f4 AS (SELECT unnest(generate_series(0, 3)) AS f),
      o6 AS (SELECT unnest(generate_series(0, 5)) AS o),
      conv AS (SELECT crop_id, f.f AS f, oy.o AS oy, ox.o AS ox,
          GREATEST(0, SUM((((f.f * 9 + ky.k * 3 + kx.k) * 5) % 7 - 3) * r.px)) AS a
        FROM f4 f CROSS JOIN o6 oy CROSS JOIN o6 ox
        CROSS JOIN k3 ky CROSS JOIN k3 kx
        JOIN eresz r ON r.ty = oy.o + ky.k AND r.tx = ox.o + kx.k
        GROUP BY crop_id, f.f, oy.o, ox.o),
      pool AS (SELECT crop_id, f, oy // 2 AS py, ox // 2 AS px2, MAX(a) AS a
        FROM conv GROUP BY crop_id, f, oy // 2, ox // 2),
      o8 AS (SELECT unnest(generate_series(0, 7)) AS o),
      emb AS (SELECT crop_id, o, o + 1 +
          SUM((((o * 36 + f * 9 + py * 3 + px2) * 3) % 5 - 2) * a) AS e
        FROM pool CROSS JOIN o8 GROUP BY crop_id, o),
      vecs AS (SELECT e2.crop_id, c.doc_id, c.label,
          list(CAST(e AS DOUBLE) ORDER BY o) AS v
        FROM emb e2 JOIN ecb c ON c.crop_id = e2.crop_id
        GROUP BY e2.crop_id, c.doc_id, c.label),
      nn AS (SELECT crop_id, doc_id, label, v,
               sqrt(list_dot_product(v, v)) AS nrm FROM vecs),
      qb AS (SELECT crop_id FROM (
               SELECT crop_id, ROW_NUMBER() OVER (PARTITION BY doc_id
                 ORDER BY score DESC, crop_id) AS rq
               FROM ecb WHERE doc_id < 3) z WHERE rq = 1),
      q AS (SELECT nn.crop_id AS query_id, v AS qv, nrm AS qn
            FROM nn JOIN qb ON qb.crop_id = nn.crop_id),
      s AS (SELECT query_id, nn.crop_id AS neighbor_id, nn.label AS neighbor_label,
              ROUND(list_dot_product(qv, v) / (qn * nrm), 6) AS sim
            FROM nn CROSS JOIN q WHERE nn.crop_id <> query_id),
      $mPipelineVote""",

    // the SQL-only route to a full k-NN shares the Scala API's exact
    // oracle: graft_cosine must reproduce list_dot_product/(qn*nrm)
    // bit for bit
    "v_sql_surface2" -> vector("v_knn_exact"),

    // the persisted bitmap store answers from merged shards; the
    // ground truth is the plain exact distinct (same contract as
    // q_bitmap_distinct — append + merge + compact must lose nothing)
    "q_bitmap_store" -> relational("q_bitmap_distinct"),

    // pairwise KMV overlap from the persisted sketches: the oracle
    // rebuilds each source's k-smallest-distinct-md5 sketch from the
    // raw table and replays the union-sketch estimate per source pair
    // — deterministic hashing makes the ESTIMATE hash-checkable
    "q_kmv_store" -> """
      WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
      hh AS (SELECT DISTINCT event_type,
               CAST(('0x' || substr(md5('kmv_' || user_id), 1, 15)) AS BIGINT) AS h
             FROM u),
      sk AS (SELECT event_type, h FROM (
               SELECT event_type, h,
                 ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
               FROM hh) t WHERE rn <= 64),
      srcs AS (SELECT DISTINCT event_type FROM u),
      pairs AS (SELECT a.event_type AS src_a, b.event_type AS src_b
                FROM srcs a JOIN srcs b ON a.event_type < b.event_type),
      und AS (SELECT DISTINCT p.src_a, p.src_b, s.h
              FROM pairs p JOIN sk s
                ON s.event_type = p.src_a OR s.event_type = p.src_b),
      un AS (SELECT src_a, src_b, h FROM (
               SELECT src_a, src_b, h,
                 ROW_NUMBER() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rn
               FROM und) t WHERE rn <= 64),
      est AS (SELECT u2.src_a, u2.src_b, CAST(COUNT(*) AS BIGINT) AS est_common
              FROM un u2
              JOIN sk sa ON sa.event_type = u2.src_a AND sa.h = u2.h
              JOIN sk sb ON sb.event_type = u2.src_b AND sb.h = u2.h
              GROUP BY u2.src_a, u2.src_b)
      SELECT p.src_a, p.src_b, CAST(64 AS BIGINT) AS k,
        CAST(COALESCE(e.est_common, 0) AS BIGINT) AS est_common,
        ROUND(COALESCE(e.est_common, 0) / 64.0, 6) AS jacc_est
      FROM pairs p LEFT JOIN est e
        ON e.src_a = p.src_a AND e.src_b = p.src_b
      ORDER BY p.src_a, p.src_b""",

    // z-score anomaly ranking: mean/std from exact integer sufficient
    // statistics, z has an integer numerator and radicand so the
    // double sqrt/divide is bit-deterministic on both engines
    "q_anomaly" -> qAnomalySql,

    // blocking-recall gate: blocked candidate top-50 vs the exact
    // all-pairs top-50 on the fixed vec_id<200 sample
    "d_embed_recall" -> s"""
      WITH $lshBandsCte,
      sN AS (SELECT vec_id, v, nrm FROM n WHERE vec_id < 200),
      sB AS (SELECT * FROM bands WHERE vec_id < 200),
      bl AS (SELECT a.vec_id AS id1, b.vec_id AS id2
             FROM sB a JOIN sB b ON a.vec_id < b.vec_id
               AND (a.band0 = b.band0 OR a.band1 = b.band1)),
      bl50 AS (SELECT id1, id2 FROM (
                SELECT c.id1, c.id2,
                  ROW_NUMBER() OVER (ORDER BY
                    ROUND(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 6) DESC,
                    c.id1, c.id2) AS rn
                FROM bl c JOIN sN x ON x.vec_id = c.id1
                JOIN sN y ON y.vec_id = c.id2) t
              WHERE rn <= 50),
      ex50 AS (SELECT id1, id2 FROM (
                SELECT a.vec_id AS id1, b.vec_id AS id2,
                  ROW_NUMBER() OVER (ORDER BY
                    ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) DESC,
                    a.vec_id, b.vec_id) AS rn
                FROM sN a JOIN sN b ON a.vec_id < b.vec_id) t
              WHERE rn <= 50)
      SELECT CAST(50 AS BIGINT) AS k, CAST(COUNT(*) AS BIGINT) AS n_found,
        ROUND(COUNT(*) / 50.0, 6) AS recall
      FROM ex50 e2 JOIN bl50 b2 ON b2.id1 = e2.id1 AND b2.id2 = e2.id2""",

    // the persisted rate store answers from re-summed shards; ground
    // truth is the one-shot anomaly ranking over the raw events
    "q_rate_store" -> qAnomalySql,

    // EWMA as a sorted left fold: list_prepend supplies the 0.0 seed,
    // the fold order matches Spark's aggregate() exactly
    "q_ewma" -> """
      WITH h AS (SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour,
               event_type, COUNT(*) AS n
             FROM events GROUP BY hour, event_type)
      SELECT event_type, COUNT(*) AS n_hours,
        ROUND(list_reduce(list_prepend(0.0, list(CAST(n AS DOUBLE) ORDER BY hour)),
          (a, b) -> a + (b - a) / 4.0), 6) AS ewma
      FROM h GROUP BY event_type ORDER BY event_type""",

    // the Bloom-pruned join must equal the PLAIN semi-join — the
    // filter may only drop rows that provably cannot join
    "q_bloom_join" -> s"""
      SELECT o_orderpriority, COUNT(*) AS n_orders,
        ${msum("o_totalprice")} AS revenue
      FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM customer
                          WHERE c_mktsegment = 'BUILDING')
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    // linear quality classifier over hashed features: integer weight
    // arithmetic end to end, replayed verbatim
    "t_quality_clf" -> s"""
      WITH $tokensCte,
      hx AS (SELECT doc_id,
               CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 32 AS dim
             FROM tk),
      w AS (SELECT doc_id,
              CAST(('0x' || substr(md5('w_' || dim), 1, 8)) AS BIGINT)
                % 2001 - 1000 AS w
            FROM hx)
      SELECT doc_id, COUNT(*) AS n_tokens, CAST(SUM(w) AS BIGINT) AS score,
        ROUND(CAST(SUM(w) AS BIGINT) / (COUNT(*) * 1.0), 6) AS mean_w,
        CAST(SUM(w) AS BIGINT) > 0 AS keep
      FROM w GROUP BY doc_id ORDER BY doc_id""",

    // BPE tokenizer training replayed as unrolled merge rounds: pair
    // counts from the word-frequency table, argmax with lexicographic
    // ties, delimiter-safe fuse via the same left-to-right replace
    "t_bpe_train" -> (s"WITH ${bpeCte(5)}\n      SELECT * FROM (" +
      (1 to 5).map(r =>
        s"SELECT CAST($r AS BIGINT) AS round, x, y, n FROM b$r").mkString(" UNION ALL ") +
      ") ORDER BY round"),

    // the serving half: per-word merged piece counts joined back to
    // the corpus — training AND application replayed
    "t_bpe_apply" -> s"""
      WITH ${bpeCte(5)},
      pc AS (SELECT w, CAST(len(string_split(trim(sp), ' ')) AS BIGINT) AS np
             FROM w5)
      SELECT doc_id, COUNT(*) AS n_words,
        CAST(SUM(length(tok)) AS BIGINT) AS n_chars,
        CAST(SUM(np) AS BIGINT) AS n_pieces,
        ROUND(CAST(SUM(length(tok)) AS BIGINT)
          / (CAST(SUM(np) AS BIGINT) * 1.0), 6) AS chars_per_piece
      FROM tk JOIN pc ON pc.w = tk.tok
      GROUP BY doc_id ORDER BY doc_id""",

    // late-interaction maxsim over mod-16-sampled shingle-hash vector
    // sets: inverted-index candidates (≥2 shared fingerprints), then
    // Σ max ⟨q,d⟩ in exact integer arithmetic
    "v_maxsim" -> vMaxsimSql,

    // the persisted late-interaction index must reproduce the
    // in-session tier exactly (bucket pruning is lossless for the
    // candidate equi-join)
    "v_maxsim_store" -> vMaxsimSql,

    // what the candidate filter costs: blocked vs exhaustive top-5
    "v_maxsim_recall" -> vMaxsimRecallSql,

    // filtered search on the persisted IVF store: Lloyd + nprobe probe
    // + per-query label equality replayed — probe pruning and the
    // metadata filter compose
    "v_ivf_filtered" -> s"""
      WITH $ivfCte,
      flab AS (SELECT vec_id, label FROM embeddings),
      fq AS (SELECT p.query_id, p.qv, p.qn, p.pcid, l.label AS qlabel
             FROM ivfprobe p JOIN flab l ON l.vec_id = p.query_id),
      fcand AS (SELECT f.query_id, f.qlabel, a.vec_id AS neighbor_id,
                  ROUND(list_dot_product(f.qv, a.v) / (f.qn * a.nrm), 6) AS sim
                FROM fq f
                JOIN ivfasg a ON a.cid = f.pcid AND a.vec_id <> f.query_id
                JOIN flab nl ON nl.vec_id = a.vec_id AND nl.label = f.qlabel)
      SELECT query_id, qlabel AS label, rnk, neighbor_id, sim FROM (
        SELECT query_id, qlabel, neighbor_id, sim,
          CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
        FROM fcand) t WHERE rnk <= 3
      ORDER BY query_id, rnk""",

    // path canonicalization replayed verbatim (backslashes are literal
    // characters in SQL strings — no escape layer on the DuckDB side)
    "m_meta_paths" -> """
      WITH r AS (SELECT vec_id,
          CASE WHEN vec_id % 2 = 0
            THEN 'output\cropped_images\class_' || label || '\img_'
                   || vec_id || '.jpg'
            ELSE 'output/cropped_images/class_' || label || '/img_'
                   || vec_id || '.jpg'
          END AS raw_path
        FROM embeddings)
      SELECT vec_id, raw_path,
        '/srv/graft_app/' || replace(raw_path, '\', '/') AS final_path
      FROM r ORDER BY vec_id"""
  )

  val round9: Map[String, String] = Map(
    // multiprobe LSH blocking: the oracle states the SEMANTICS —
    // candidates are pairs within Hamming distance 1 on either band —
    // while the engine reaches the same set through left-side probe
    // fan-out equi-joins (never an all-pairs scan)
    "d_embed_multiprobe" -> s"""
      WITH $lshBandsCte,
      mb AS (SELECT a.vec_id AS id1, b.vec_id AS id2
             FROM bands a JOIN bands b ON a.vec_id < b.vec_id
               AND (bit_count(xor(a.band0, b.band0)) <= 1
                 OR bit_count(xor(a.band1, b.band1)) <= 1))
      SELECT c.id1, c.id2,
        ROUND(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 6) AS sim
      FROM mb c JOIN n x ON x.vec_id = c.id1 JOIN n y ON y.vec_id = c.id2
      ORDER BY sim DESC, c.id1, c.id2 LIMIT 50""",

    // what multiprobe buys: d_embed_recall's gate over the widened
    // candidate set
    "d_embed_mp_recall" -> s"""
      WITH $lshBandsCte,
      sN AS (SELECT vec_id, v, nrm FROM n WHERE vec_id < 200),
      sB AS (SELECT * FROM bands WHERE vec_id < 200),
      bl AS (SELECT a.vec_id AS id1, b.vec_id AS id2
             FROM sB a JOIN sB b ON a.vec_id < b.vec_id
               AND (bit_count(xor(a.band0, b.band0)) <= 1
                 OR bit_count(xor(a.band1, b.band1)) <= 1)),
      bl50 AS (SELECT id1, id2 FROM (
                SELECT c.id1, c.id2,
                  ROW_NUMBER() OVER (ORDER BY
                    ROUND(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 6) DESC,
                    c.id1, c.id2) AS rn
                FROM bl c JOIN sN x ON x.vec_id = c.id1
                JOIN sN y ON y.vec_id = c.id2) t
              WHERE rn <= 50),
      ex50 AS (SELECT id1, id2 FROM (
                SELECT a.vec_id AS id1, b.vec_id AS id2,
                  ROW_NUMBER() OVER (ORDER BY
                    ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) DESC,
                    a.vec_id, b.vec_id) AS rn
                FROM sN a JOIN sN b ON a.vec_id < b.vec_id) t
              WHERE rn <= 50)
      SELECT CAST(50 AS BIGINT) AS k, CAST(COUNT(*) AS BIGINT) AS n_found,
        ROUND(COUNT(*) / 50.0, 6) AS recall
      FROM ex50 e2 JOIN bl50 b2 ON b2.id1 = e2.id1 AND b2.id2 = e2.id2""",

    // the routed filtered search took the EXACT route (the driver
    // query's grp predicate matches ~2% of the corpus), so its truth
    // is the exact filtered k-NN — top-3 same-grp neighbors
    "v_filtered_route" -> """
      WITH e AS (SELECT vec_id, vec_id % 50 AS grp,
               embedding::DOUBLE[] AS v FROM embeddings),
      n AS (SELECT vec_id, grp, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
      q AS (SELECT vec_id AS query_id, grp AS qgrp, v AS qv, nrm AS qn
            FROM n WHERE vec_id < 10),
      s AS (SELECT q.query_id, q.qgrp, n.vec_id AS neighbor_id,
              ROUND(list_dot_product(q.qv, n.v) / (q.qn * n.nrm), 6) AS sim
            FROM n JOIN q ON n.grp = q.qgrp AND n.vec_id <> q.query_id),
      r AS (SELECT query_id, qgrp, neighbor_id, sim,
              CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
            FROM s)
      SELECT query_id, qgrp AS grp, rnk, neighbor_id, sim FROM r
      WHERE rnk <= 3 ORDER BY query_id, rnk""",

    // the SQL-only route over the persisted flat store must hash-match
    // the Scala API's exact search
    "v_sql_store" -> vector("v_knn_exact"),

    // the SQL-only route over the persisted IVF store: probe + prune +
    // rescore in one statement must reproduce the in-session IVF
    "v_sql_store_ivf" -> vector("v_ivf"),

    // the SQL-only route over the persisted PQ store: the ADC folds
    // re-expressed as ordered HOF aggregates must land on the exact
    // doubles the Scala lookup tables produce
    "v_sql_store_pq" -> vector("v_pq"),

    // the SQL-only route over the persisted binary store: Hamming
    // scan + exact rerank, both tiers in one statement
    "v_sql_store_bq" -> vector("v_bq"),

    // the SQL-only route over the persisted late-interaction store:
    // query-set derivation, candidate generation, and the maxsim fold
    // all in one statement — integer arithmetic end to end
    "v_sql_store_maxsim" -> vMaxsimSql,

    // the fixed-point bilinear Resize → CenterCrop → Normalize
    // preprocess (ConvNet.preprocess's arithmetic), replayed pixel by
    // pixel: half-pixel-center sampling in exact rationals, edge
    // clamp, floor divisions on non-negative operands only
    "m_resize_bilinear" -> """
      WITH d AS (SELECT doc_id, CAST(doc_id % 7 + 6 AS BIGINT) AS w,
               CAST(doc_id % 5 + 5 AS BIGINT) AS h
             FROM documents WHERE doc_id < 30),
      r AS (SELECT doc_id, w, h,
              CASE WHEN w <= h THEN 10 ELSE (2*w*10 + h) // (2*h) END AS nw,
              CASE WHEN w <= h THEN (2*h*10 + w) // (2*w) ELSE 10 END AS nh
            FROM d),
      i8 AS (SELECT unnest(generate_series(0, 7)) AS i),
      ya AS (SELECT r.doc_id, i.i AS ty, 2*r.nh AS yd, r.h AS ys,
               (2*((r.nh - 8) // 2 + i.i) + 1) * r.h - r.nh AS ynum
             FROM r CROSS JOIN i8 i),
      yb AS (SELECT doc_id, ty, yd,
               CASE WHEN ynum < 0 THEN 0 ELSE ynum // yd END AS y0,
               CASE WHEN ynum < 0 THEN 0 ELSE ynum - (ynum // yd) * yd END AS fy,
               LEAST(CASE WHEN ynum < 0 THEN 0 ELSE ynum // yd END + 1, ys - 1) AS y1
             FROM ya),
      xa AS (SELECT r.doc_id, i.i AS tx, 2*r.nw AS xd, r.w AS xs,
               (2*((r.nw - 8) // 2 + i.i) + 1) * r.w - r.nw AS xnum
             FROM r CROSS JOIN i8 i),
      xb AS (SELECT doc_id, tx, xd,
               CASE WHEN xnum < 0 THEN 0 ELSE xnum // xd END AS x0,
               CASE WHEN xnum < 0 THEN 0 ELSE xnum - (xnum // xd) * xd END AS fx,
               LEAST(CASE WHEN xnum < 0 THEN 0 ELSE xnum // xd END + 1, xs - 1) AS x1
             FROM xa),
      pyy AS (SELECT doc_id, w, h, unnest(generate_series(0, CAST(h - 1 AS INT))) AS y
              FROM d),
      px AS (SELECT doc_id, y, unnest(generate_series(0, CAST(w - 1 AS INT))) AS x
             FROM pyy),
      pv AS (SELECT doc_id, y, x,
               CAST(('0x' || substr(md5('bl_' || doc_id || '_' || y || '_' || x), 1, 2))
                 AS BIGINT) AS px
             FROM px),
      bil AS (SELECT y.doc_id, y.ty, x.tx,
               ((y.yd - y.fy) * ((x.xd - x.fx) * p00.px + x.fx * p01.px)
                + y.fy * ((x.xd - x.fx) * p10.px + x.fx * p11.px))
               // (y.yd * x.xd) AS bpx
             FROM yb y
             JOIN xb x ON x.doc_id = y.doc_id
             JOIN pv p00 ON p00.doc_id = y.doc_id AND p00.y = y.y0 AND p00.x = x.x0
             JOIN pv p01 ON p01.doc_id = y.doc_id AND p01.y = y.y0 AND p01.x = x.x1
             JOIN pv p10 ON p10.doc_id = y.doc_id AND p10.y = y.y1 AND p10.x = x.x0
             JOIN pv p11 ON p11.doc_id = y.doc_id AND p11.y = y.y1 AND p11.x = x.x1),
      nm AS (SELECT doc_id, ty, tx,
               ((bpx * 1000000) // 255 - 449000 + 452000) // 226 - 2000 AS n
             FROM bil)
      SELECT r.doc_id, r.w, r.h, r.nw, r.nh,
        CAST(SUM(n) AS BIGINT) AS sum_n, MIN(n) AS min_n, MAX(n) AS max_n,
        CAST(SUM(n * (ty * 8 + tx + 1)) AS BIGINT) AS wsum
      FROM nm JOIN r ON r.doc_id = nm.doc_id
      GROUP BY r.doc_id, r.w, r.h, r.nw, r.nh
      ORDER BY r.doc_id"""
  )

  val round10: Map[String, String] = Map(
    // the learned-transform and Matryoshka SQL serving legs replay
    // their Scala twins bit-for-bit, so they hash-share the oracles
    "v_sql_store_opql" -> vector("v_opq_learned"),
    "v_sql_store_mrl" -> vector("v_matryoshka"),

    // multiprobe over the persisted banded store: the oracle states
    // the Hamming-≤1-on-band0 blocking semantics the probe fan-out
    // reaches via equi-joins, then exact cosine + top-5 inside it
    "v_ann_store_mp" -> s"""
      WITH $lshBandsCte,
      q AS (SELECT b.vec_id AS query_id, b.band0 AS qb0, n.v AS qv, n.nrm AS qn
            FROM bands b JOIN n ON n.vec_id = b.vec_id WHERE b.vec_id < 10),
      cand AS (SELECT query_id, qv, qn, b.vec_id AS neighbor_id
               FROM q JOIN bands b
                 ON b.vec_id <> query_id
                AND bit_count(xor(b.band0, qb0)) <= 1),
      s AS (SELECT query_id, neighbor_id,
              ROUND(list_dot_product(qv, y.v) / (qn * y.nrm), 6) AS sim
            FROM cand JOIN n y ON y.vec_id = neighbor_id),
      r AS (SELECT query_id, neighbor_id, sim,
              CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
            FROM s)
      SELECT query_id, rnk, neighbor_id, sim FROM r
      WHERE rnk <= 5 ORDER BY query_id, rnk""",

    // recall@5 of the probed store tier against exact cosine top-5
    // (the v_recall evaluation over the multiprobe candidate set)
    "v_ann_store_recall" -> s"""
      WITH $lshBandsCte,
      q AS (SELECT b.vec_id AS query_id, b.band0 AS qb0, n.v AS qv, n.nrm AS qn
            FROM bands b JOIN n ON n.vec_id = b.vec_id WHERE b.vec_id < 10),
      cand AS (SELECT query_id, qv, qn, b.vec_id AS neighbor_id
               FROM q JOIN bands b
                 ON b.vec_id <> query_id
                AND bit_count(xor(b.band0, qb0)) <= 1),
      s AS (SELECT query_id, neighbor_id,
              ROUND(list_dot_product(qv, y.v) / (qn * y.nrm), 6) AS sim
            FROM cand JOIN n y ON y.vec_id = neighbor_id),
      r AS (SELECT query_id, neighbor_id,
              ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY sim DESC, neighbor_id) AS rnk
            FROM s),
      mp5 AS (SELECT query_id, neighbor_id FROM r WHERE rnk <= 5),
      ex_s AS (SELECT q2.query_id, n.vec_id AS neighbor_id,
                 ROUND(list_dot_product(q2.qv, n.v) / (q2.qn * n.nrm), 6) AS sim
               FROM n CROSS JOIN (SELECT vec_id AS query_id, v AS qv, nrm AS qn
                                  FROM n WHERE vec_id < 10) q2
               WHERE n.vec_id <> q2.query_id),
      ex_r AS (SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY sim DESC, neighbor_id) AS rnk
               FROM ex_s),
      ex5 AS (SELECT query_id, neighbor_id FROM ex_r WHERE rnk <= 5)
      SELECT e.query_id,
        CAST(COUNT(m.neighbor_id) AS BIGINT) AS hits,
        ROUND(COUNT(m.neighbor_id) / 5.0, 6) AS recall
      FROM ex5 e LEFT JOIN mp5 m
        ON m.query_id = e.query_id AND m.neighbor_id = e.neighbor_id
      GROUP BY e.query_id ORDER BY e.query_id"""
  )

  /** The CLUSTERED evaluation frame (Knn.clusteredFrame replayed):
    * v[i] = center(vec_id mod 8)[i−1] + 0.25·v0[i], centers from md5
    * integer arithmetic CAST to double before the division, one IEEE
    * addition per component — bit-identical to the engine's projection.
    * Same output CTE names (e, n) and schema as normsCte, so every
    * downstream training/recall replay composes unchanged.
    */
  private val cluNormsCte: String = """
      e0 AS (SELECT vec_id, label, embedding::DOUBLE[] AS v0 FROM embeddings),
      e AS (SELECT vec_id, label,
              list_transform(generate_series(1, 64), i ->
                CAST((CAST(('0x' || substr(md5('ctr_' || (vec_id % 8) || '_' || (i - 1)), 1, 8)) AS BIGINT)
                      % 2001 - 1000) AS DOUBLE) / 1000.0
                + 0.25 * v0[i]) AS v
            FROM e0),
      n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)"""

  /** An isotropic-corpus oracle re-sourced from the clustered frame:
    * the engine runs the SAME gate over `<dir>#clustered`, so the
    * oracle is the same SQL with the source CTE swapped.
    */
  private def clustered(oracle: String): String = {
    require(oracle.contains(normsCte), "oracle does not embed the norms CTE")
    oracle.replace(normsCte, cluNormsCte)
  }

  val round11: Map[String, String] = Map(
    // clustered-corpus quality gates: the same recall gates that tie
    // on the isotropic corpus, re-run where cluster structure exists —
    // residual-vs-raw IVF-PQ, learned-OPQ-vs-PQ, BQ, Matryoshka, and
    // the LSH blocking recall (engine: identical code over the
    // #clustered virtual corpus; oracle: identical SQL over the
    // clustered source CTE)
    "vc_ivf_pq_res_recall" -> clustered(vector("v_ivf_pq_res_recall")),
    "vc_pq_recall" -> clustered(vector("v_pq_recall")),
    "vc_opq_learned_recall" -> clustered(vector("v_opq_learned_recall")),
    "vc_bq_recall" -> clustered(vector("v_bq_recall")),
    "vc_mrl_recall" -> clustered(vector("v_matryoshka_recall")),
    "dc_embed_recall" -> clustered(round8("d_embed_recall")),
    // SemDeDup over the clustered corpus: the multiprobe edges +
    // components should rediscover the 8 planted mixture components
    "dc_semdedup" -> clustered(dedup("d_semdedup")),
    // coarse-pruning recall on clustered data (with the quantizer
    // explaining the structure, the query's own list holds its
    // neighborhood — contrast with the isotropic number)
    "vc_ivf_recall" -> clustered(vector("v_ivf_recall")),
    // the LSH ANN tier's recall on clustered data — completes the
    // clustered twin for EVERY recall gate in the suite
    "vc_recall" -> clustered(vector("v_recall")),
    "vc_ivf_pq_recall" -> clustered(vector("v_ivf_pq_recall")),
    // the composed two-stage SQL serving leg replays the in-session
    // IVF-PQ routes bit-for-bit (probe CTE ≡ ivfProbe, map-side ADC
    // fold ≡ adcDistCol; the brand sidecar flips the residual
    // encoding), so both flavors hash-share the in-session oracles
    "v_sql_store_ivfpq" -> vector("v_ivf_pq"),
    "v_sql_store_ivfpq_res" -> vector("v_ivf_pq_res"),

    // the streaming maintainers in the gate: two AvailableNow waves
    // through the maintainer, then the store's search — frozen-model
    // streamed appends (and, for MIH, the auto-compact rewrite) must
    // reproduce the in-session oracles bit-for-bit
    "s_ivfpq_ingest" -> vector("v_ivf_pq"),
    "s_mih_ingest" -> vector("v_bq_range"),
    "v_sql_store_ivfbq" -> vector("v_ivf_bq"),
    "s_knn_serve" -> vector("v_knn_exact"),

    // streamed decode→pHash→MIH store probed by corrupted
    // fingerprints: the oracle recomputes the hashes from the closed
    // pixel form and BRUTE-FORCES the radius contract
    "s_phash_ingest" -> s"""
      WITH $decodePhashCte,
      pph AS (SELECT pdd.doc_id,
                CAST(SUM(CASE WHEN coef > median
                         THEN (CAST(1 AS BIGINT) << (u * 8 + v - 1)) ELSE 0 END)
                  AS BIGINT) AS phash
              FROM pdd JOIN pmd ON pdd.doc_id = mdid
              GROUP BY pdd.doc_id),
      pw AS (SELECT doc_id, phash & 4294967295 AS code_lo,
               phash >> 32 AS code_hi FROM pph),
      pq AS (SELECT doc_id AS query_id, xor(code_lo, 19) AS qlo, code_hi AS qhi
             FROM pw)
      SELECT q.query_id, c.doc_id AS neighbor_id,
        CAST(bit_count(xor(c.code_lo, q.qlo))
           + bit_count(xor(c.code_hi, q.qhi)) AS BIGINT) AS hamming
      FROM pq q CROSS JOIN pw c
      WHERE bit_count(xor(c.code_lo, q.qlo))
          + bit_count(xor(c.code_hi, q.qhi)) <= 7
      ORDER BY q.query_id, neighbor_id""",

    // filtered search on the COMPRESSED tier: Lloyd + probe + PQ
    // training replayed, the label equality applied to candidates
    // BEFORE ADC ranking (the engine's probe-join filter semantics)
    "v_ivfpq_filtered" -> s"""
      WITH $ivfCte, ${pqCteBody()},
      flab AS (SELECT vec_id, label FROM embeddings),
      fq AS (SELECT p.query_id, p.pcid, l.label AS qlabel
             FROM ivfprobe p JOIN flab l ON l.vec_id = p.query_id),
      fcand AS (SELECT f.query_id, f.qlabel, a.vec_id AS cv
                FROM fq f
                JOIN ivfasg a ON a.cid = f.pcid AND a.vec_id <> f.query_id
                JOIN flab nl ON nl.vec_id = a.vec_id AND nl.label = f.qlabel),
      fscore AS (SELECT t.query_id, c.qlabel, c.cv AS vec_id,
                   ROUND(sqrt(list_reduce(list(t.d2 ORDER BY t.m), (a, b) -> a + b)), 6)
                     AS adc_dist
                 FROM pcodes pc
                   JOIN fcand c ON pc.vec_id = c.cv
                   JOIN pdt t ON t.query_id = c.query_id AND t.m = pc.m AND t.k = pc.code
                 GROUP BY t.query_id, c.qlabel, c.cv)
      SELECT query_id, qlabel AS label, rnk, neighbor_id, adc_dist FROM (
        SELECT query_id, qlabel, vec_id AS neighbor_id, adc_dist,
          CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY adc_dist ASC, vec_id ASC) AS BIGINT) AS rnk
        FROM fscore) t WHERE rnk <= 3
      ORDER BY query_id, rnk""",
    "v_sql_store_annmp" -> round10("v_ann_store_mp"),
    "s_maxsim_ingest" -> vMaxsimSql,
    "s_span_ingest" -> dedup("d_span_dedup"),
    "s_bitmap_ingest" -> relational("q_bitmap_distinct"),
    "s_rate_ingest" -> qAnomalySql,
    "s_kmv_ingest" -> round8("q_kmv_store"),
    "s_bloom_ingest" -> dedup("d_bloom"),
    // streamed HLL merge gate: exact distinct + literal-TRUE tolerance
    // flags (the q_approx_distinct_err shape) — a drifted merged
    // sketch breaks the hash
    "s_hll_ingest" -> """
      SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        TRUE AS within_tol
      FROM events GROUP BY event_type ORDER BY event_type""",

    // the r11 curation funnel: Gopher keep → MAXIMAL-span excision
    // token accounting → multiprobe SemDeDup keepers (recursive
    // components over the embedding edges) → temperature mixture at
    // the survivors' token mass → packing — every stage replayed
    "t_curation_pipeline2" -> s"""
      WITH RECURSIVE $lshBandsCte,
      cand AS (SELECT a.vec_id AS id1, b.vec_id AS id2
               FROM bands a JOIN bands b
                 ON a.vec_id < b.vec_id
                AND (bit_count(xor(a.band0, b.band0)) <= 1
                  OR bit_count(xor(a.band1, b.band1)) <= 1)),
      sims AS (SELECT id1, id2,
                 ROUND(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 6) AS sim
               FROM cand JOIN n x ON x.vec_id = id1 JOIN n y ON y.vec_id = id2),
      und AS (SELECT DISTINCT id1 AS doc1, id2 AS doc2 FROM sims WHERE sim >= 0.45),
      edges AS (SELECT doc1 AS a, doc2 AS b FROM und
                UNION SELECT doc2, doc1 FROM und),
      reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a),
      lbl AS (SELECT a AS ld, LEAST(a, MIN(b)) AS label FROM reach GROUP BY a),
      semk AS (SELECT em.vec_id AS doc_id,
                 CASE WHEN COALESCE(l.label, em.vec_id) = em.vec_id
                   THEN 1 ELSE 0 END AS is_keeper
               FROM embeddings em LEFT JOIN lbl l ON l.ld = em.vec_id),
      gt AS (SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\\s+'),
                 t -> t <> '') AS w
             FROM documents),
      gf AS (SELECT doc_id,
               CAST(len(w) AS BIGINT) AS n_words,
               ROUND(CAST(list_sum(list_transform(w, t -> length(t))) AS DOUBLE)
                 / len(w), 6) AS mean_wlen,
               CAST(len(list_filter(w,
                 t -> t IN ('the', 'a', 'and', 'of', 'to', 'in', 'is')))
                 AS BIGINT) AS stop_count,
               ROUND(CAST(len(list_filter(w,
                 t -> regexp_matches(t, '^[a-z]+$$'))) AS DOUBLE)
                 / len(w), 6) AS alpha_frac
             FROM gt),
      keepq AS (SELECT doc_id,
                  (n_words >= 30 AND n_words <= 5000
                    AND mean_wlen >= 3.0 AND mean_wlen <= 10.0
                    AND stop_count >= 2 AND alpha_frac >= 0.8) AS keep
                FROM gf),
      xwt AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      xsp0 AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS i
               FROM xwt WHERE len(w) >= 5),
      xsph AS (SELECT doc_id, i,
                 CAST(('0x' || substr(md5(array_to_string(w[i:i+4], ' ')), 1, 15))
                   AS BIGINT) % ${H.P31} AS h
               FROM xsp0),
      xspd AS (SELECT DISTINCT doc_id, h FROM xsph),
      xdupk AS (SELECT h, MIN(doc_id) AS keeper FROM xspd
                GROUP BY h HAVING COUNT(*) >= 2),
      xbads AS (SELECT DISTINCT s.doc_id, s.i
                FROM xsph s JOIN xdupk d ON d.h = s.h AND s.doc_id <> d.keeper),
      xisl0 AS (SELECT doc_id, i,
                  CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) <= 5
                       THEN 0 ELSE 1 END AS brk
                FROM xbads),
      xisl1 AS (SELECT doc_id, i,
                  SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
                FROM xisl0),
      xspans AS (SELECT doc_id, isl, MIN(i) AS s, MAX(i) + 4 AS e
                 FROM xisl1 GROUP BY doc_id, isl
                 HAVING MAX(i) + 4 - MIN(i) + 1 >= 8),
      xrem AS (SELECT doc_id, SUM(e - s + 1) AS n_rem FROM xspans GROUP BY doc_id),
      xtoks AS (SELECT t.doc_id,
                  CAST(len(t.w) - COALESCE(r.n_rem, 0) AS BIGINT) AS n_toks
                FROM xwt t LEFT JOIN xrem r ON r.doc_id = t.doc_id),
      st AS (SELECT d.doc_id, d.lang, k.keep,
               (k.keep AND s.is_keeper = 1) AS survives, x.n_toks
             FROM documents d
             JOIN keepq k ON k.doc_id = d.doc_id
             JOIN xtoks x ON x.doc_id = d.doc_id
             JOIN semk s ON s.doc_id = d.doc_id),
      per AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_survive,
                SUM(n_toks) AS lang_tokens
              FROM st WHERE survives GROUP BY lang),
      ntmin AS (SELECT MIN(lang_tokens) AS nt_min FROM per),
      rates AS (SELECT lang, n_survive,
                  ROUND(sqrt(CAST(nt_min AS DOUBLE) / lang_tokens), 6) AS rate
                FROM per CROSS JOIN ntmin),
      samp AS (SELECT st.doc_id, st.lang, st.n_toks
               FROM st JOIN rates r ON r.lang = st.lang
               WHERE st.survives
                 AND CAST(('0x' || substr(md5('mix2_' || st.doc_id), 1, 15)) AS BIGINT)
                     % 1048576 < CAST(FLOOR(r.rate * 1048576.0) AS BIGINT)),
      cum AS (SELECT doc_id, lang, n_toks,
                SUM(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM samp),
      packed AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
                   CAST(SUM(n_toks) AS BIGINT) AS tokens_kept,
                   MAX(CAST(FLOOR((cum - n_toks) / 512) AS BIGINT)) + 1 AS n_seqs
                 FROM cum GROUP BY lang),
      base AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_quality
               FROM st GROUP BY lang)
      SELECT b.lang, b.n_docs, b.n_quality,
        COALESCE(r.n_survive, 0) AS n_survive,
        COALESCE(r.rate, 0.0) AS rate,
        COALESCE(p.n_kept, 0) AS n_kept,
        COALESCE(p.tokens_kept, 0) AS tokens_kept,
        COALESCE(p.n_seqs, 0) AS n_seqs
      FROM base b LEFT JOIN rates r ON r.lang = b.lang
      LEFT JOIN packed p ON p.lang = b.lang
      ORDER BY b.lang""",

    // MMR over the persisted multiprobe tier: the candidate set is the
    // Hamming-≤1-blocked top-20 (v_ann_store_mp's semantics), then the
    // same unrolled greedy trajectory as v_mmr over it
    "v_mmr_store" -> {
      import graft.operators.Knn.MmrCandidates
      s"""
      WITH $lshBandsCte,
      smq AS (SELECT b.vec_id AS query_id, b.band0 AS qb0, n.v AS qv, n.nrm AS qn
              FROM bands b JOIN n ON n.vec_id = b.vec_id WHERE b.vec_id < 10),
      scand AS (SELECT query_id, qv, qn, b.vec_id AS neighbor_id
                FROM smq JOIN bands b
                  ON b.vec_id <> query_id
                 AND bit_count(xor(b.band0, qb0)) <= 1),
      ssim AS (SELECT query_id, neighbor_id,
                 ROUND(list_dot_product(qv, y.v) / (qn * y.nrm), 6) AS sim
               FROM scand JOIN n y ON y.vec_id = neighbor_id),
      mcand AS MATERIALIZED (SELECT query_id, neighbor_id, sim FROM (
                SELECT query_id, neighbor_id, sim,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, neighbor_id) AS crnk
                FROM ssim) t WHERE crnk <= $MmrCandidates)$mmrGreedyCte
      SELECT query_id, rnk, neighbor_id, score, sim FROM mmrall
      ORDER BY query_id, rnk"""
    },

    // maximal-span excision: duplicated k-gram starts (keeper-aware)
    // merge into maximal contiguous regions via gaps-and-islands
    // (break when i − previous start > 5 ⇔ coverage no longer
    // contiguous), only regions >= 8 words excise, rewrite md5-pinned
    "d_span_excise_max" -> s"""
      WITH wt AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      sp0 AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS i
              FROM wt WHERE len(w) >= 5),
      sph AS (SELECT doc_id, i,
               CAST(('0x' || substr(md5(array_to_string(w[i:i+4], ' ')), 1, 15))
                 AS BIGINT) % ${H.P31} AS h
             FROM sp0),
      spd AS (SELECT DISTINCT doc_id, h FROM sph),
      dupk AS (SELECT h, MIN(doc_id) AS keeper FROM spd
               GROUP BY h HAVING COUNT(*) >= 2),
      bads AS (SELECT DISTINCT s.doc_id, s.i
               FROM sph s JOIN dupk d ON d.h = s.h AND s.doc_id <> d.keeper),
      isl0 AS (SELECT doc_id, i,
                 CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) <= 5
                      THEN 0 ELSE 1 END AS brk
               FROM bads),
      isl1 AS (SELECT doc_id, i,
                 SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
               FROM isl0),
      spans AS (SELECT doc_id, isl, MIN(i) AS s, MAX(i) + 4 AS e
                FROM isl1 GROUP BY doc_id, isl
                HAVING MAX(i) + 4 - MIN(i) + 1 >= 8),
      perdoc AS (SELECT doc_id, COUNT(*) AS n_spans,
                   SUM(e - s + 1) AS n_rem,
                   list_distinct(flatten(list(generate_series(s, e)))) AS badpos
                 FROM spans GROUP BY doc_id),
      reb AS (SELECT t.doc_id, len(t.w) AS nw,
                coalesce(p.n_spans, 0) AS n_spans,
                coalesce(p.n_rem, 0) AS n_rem,
                list_filter(t.w, (x, j) ->
                  NOT list_contains(coalesce(p.badpos, []), j)) AS kept
              FROM wt t LEFT JOIN perdoc p ON p.doc_id = t.doc_id)
      SELECT doc_id, CAST(nw AS BIGINT) AS n_words,
        CAST(n_spans AS BIGINT) AS n_spans,
        CAST(n_rem AS BIGINT) AS n_removed,
        md5(coalesce(array_to_string(kept, ' '), '')) AS text_md5
      FROM reb ORDER BY doc_id"""
  )

  /** Round-12 additions: the last spec-only streaming APIs moved into
    * the oracle gate (sessionize / dedup / upsert / stream-join, each
    * run as two checkpointed AvailableNow waves whose accumulated sink
    * must hash-match the one-shot batch semantics), plus the purge
    * lifecycle and the JPEG decode path.
    */
  val round12: Map[String, String] = Map(
    // streamed two-wave sessionization (state + timeouts across waves,
    // flush sentinel closing the trailing sessions) must reproduce the
    // batch gap-sessionization exactly; sessions key by START TIME —
    // the replayable natural key the streaming form emits
    "s_sessionize" -> """
      WITH ev AS (
        SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events),
      flagged AS (
        SELECT user_id, event_id, ts_ms,
          CASE WHEN lag(ts_ms) OVER w IS NULL
                 OR ts_ms - lag(ts_ms) OVER w > 30*60*1000
               THEN 1 ELSE 0 END AS new_sess
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
      sess AS (
        SELECT user_id, ts_ms,
          SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged)
      SELECT user_id, MIN(ts_ms) AS session_start_ms,
        COUNT(*) AS n_events,
        CAST(FLOOR((MAX(ts_ms) - MIN(ts_ms)) / 1000.0) AS BIGINT) AS duration_s
      FROM sess GROUP BY user_id, sid
      ORDER BY user_id, session_start_ms""",

    // two-wave watermark-bounded dedup: the key projection of the
    // accumulated sink — eviction must lose no key, the stream must
    // invent none
    "s_dedup_stream" -> """
      SELECT DISTINCT user_id, event_type FROM events
      ORDER BY user_id, event_type""",

    // two-wave checkpointed update-mode counts + latest-batch-wins
    // read ≡ the one-shot batch aggregation
    "s_upsert" -> """
      SELECT event_type, COUNT(*) AS n FROM events
      GROUP BY event_type ORDER BY event_type""",

    // the WATERMARKED stream-stream join, two waves, join state
    // outliving the wave boundary — same semantics as the batch twin
    "s_stream_join" -> streaming("s_interval_join"),

    // the checkpointed-file-log ingest: two runIncremental waves must
    // land exactly the source rows — no file skipped, none reprocessed
    "s_incremental" -> """
      SELECT event_id, user_id, event_type FROM events ORDER BY event_id""",

    // the ACTUAL streaming windowed agg (state-store output via the
    // memory sink) against the batch-twin oracle
    "s_window_stream" -> streaming("s_window_agg"),

    // the collect-free batch-serving leg on the residual store: probe
    // set and per-(query, list) residual ADC tables fully distributed,
    // ranking byte-equal to the driver-side search
    "v_ivfpq_res_batch" -> vector("v_ivf_pq_res"),

    // the DPP batch path of the IVF store, hash-proven against the
    // in-session oracle (not just spec-equal to the static-IN path)
    "v_ivf_batch" -> vector("v_ivf"),

    // append -> compact -> serve: the full-rewrite compaction proven
    // lossless by the exact-search hash over the whole corpus
    "q_compact_store" -> vector("v_knn_exact"),

    // Okapi BM25 (k1=1.2, b=0.75, Lucene idf): every double op in the
    // same IEEE order as the engine (left-assoc mul/div chains, exact
    // dyadic 0.75/0.25, integer-exact dl/sum_dl via BIGINT casts —
    // DuckDB SUM(BIGINT) is HUGEINT), and the per-document sum is a
    // tok-ordered fold replaying the engine's sorted 0.0-seeded
    // aggregate bit-for-bit
    "t_bm25" -> s"""
      WITH $tokensCte,
      tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tk GROUP BY doc_id, tok),
      dfx AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
      dln AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
      st AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dln),
      qt AS (SELECT doc_id AS q_id, tok FROM tf WHERE doc_id < 3),
      c AS (SELECT q.q_id, t.doc_id, t.tok,
              ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                * (t.tf * (CAST(1.2 AS DOUBLE) + 1)) /
                (t.tf + 1.2 * (0.25 + 0.75 * dl
                  / (CAST(sum_dl AS DOUBLE) / n_docs))) AS c
            FROM tf t JOIN qt q ON t.tok = q.tok AND t.doc_id <> q.q_id
            JOIN dfx ON dfx.tok = t.tok
            JOIN dln ON dln.doc_id = t.doc_id
            CROSS JOIN st),
      s AS (SELECT q_id, doc_id,
              ROUND(list_reduce(list(c ORDER BY tok), (a, x) -> a + x), 6) AS score
            FROM c GROUP BY q_id, doc_id),
      r AS (SELECT q_id, doc_id, score,
              CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rnk
            FROM s)
      SELECT q_id AS query_id, rnk, doc_id, score FROM r
      WHERE rnk <= 5 ORDER BY query_id, rnk""",

    // RRF fusion of the exact-cosine top-10 with the BM25 top-10 —
    // both leg rankings fully replayed, the fused score a fixed-order
    // two-term sum on a FULL OUTER join (the engine's exact shape)
    "v_hybrid_bm25" -> s"""
      WITH $knnCte,
      v10 AS (SELECT query_id, neighbor_id, rnk FROM r
              WHERE query_id < 3 AND rnk <= 10),
      btf AS (SELECT d.doc_id, tok, COUNT(*) AS tf FROM (
                SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
                FROM documents) d
              WHERE tok <> '' GROUP BY d.doc_id, tok),
      bdf AS (SELECT tok, COUNT(*) AS df FROM btf GROUP BY tok),
      bdl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM btf GROUP BY doc_id),
      bst AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM bdl),
      bqt AS (SELECT doc_id AS q_id, tok FROM btf WHERE doc_id < 3),
      bc AS (SELECT bq.q_id, t.doc_id, t.tok,
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                 * (t.tf * (CAST(1.2 AS DOUBLE) + 1)) /
                 (t.tf + 1.2 * (0.25 + 0.75 * dl
                   / (CAST(sum_dl AS DOUBLE) / n_docs))) AS c
             FROM btf t JOIN bqt bq ON t.tok = bq.tok AND t.doc_id <> bq.q_id
             JOIN bdf ON bdf.tok = t.tok
             JOIN bdl ON bdl.doc_id = t.doc_id
             CROSS JOIN bst),
      bs AS (SELECT q_id, doc_id,
               ROUND(list_reduce(list(c ORDER BY tok), (a, x) -> a + x), 6) AS score
             FROM bc GROUP BY q_id, doc_id),
      b10 AS (SELECT q_id, doc_id, rnk FROM (
                SELECT q_id, doc_id,
                  CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                    ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rnk
                FROM bs) t WHERE rnk <= 10),
      fused AS (SELECT COALESCE(v.query_id, b.q_id) AS query_id,
                  COALESCE(v.neighbor_id, b.doc_id) AS doc_id,
                  ROUND((CASE WHEN v.rnk IS NOT NULL
                           THEN 1.0 / (60 + v.rnk) ELSE 0.0 END)
                      + (CASE WHEN b.rnk IS NOT NULL
                           THEN 1.0 / (60 + b.rnk) ELSE 0.0 END), 6) AS fused
                FROM v10 v FULL OUTER JOIN b10 b
                  ON v.query_id = b.q_id AND v.neighbor_id = b.doc_id),
      fr AS (SELECT query_id, doc_id, fused,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY fused DESC, doc_id ASC) AS BIGINT) AS rnk
             FROM fused)
      SELECT query_id, rnk, doc_id, fused FROM fr
      WHERE rnk <= 5 ORDER BY query_id, rnk""",

    // MIH purge: victims 1 and 5 excised from the corpus side of the
    // brute-force radius oracle — their corrupted fingerprints lose
    // the radius-5 self-match, so a missed block breaks the hash
    "q_purge_mih" -> {
      val base = vector("v_bq_range")
      val from = "FROM rbq c CROSS JOIN rqc q"
      require(base.contains(from), "v_bq_range oracle shape changed")
      base.replace(from,
        "FROM (SELECT * FROM rbq WHERE vec_id NOT IN (1, 5)) c CROSS JOIN rqc q")
    },

    // payload→featurize→PQ streaming maintainer: binary float32 blobs
    // streamed through the pluggable featurizer into frozen-codebook
    // appends must serve exactly the in-session PQ ranking
    "s_embed_ingest" -> vector("v_pq"),

    // clustered twins for the remaining recall gates that only had
    // isotropic numbers: the coarse×binary tier, the persisted banded
    // multiprobe tier, and the multiprobe blocking recall. (v_maxsim's
    // recall gate could not use the #clustered embedding routing —
    // maxsim's token vectors derive from document TEXT; r13's #neardup
    // document corpus closed that twin as vc_maxsim_recall.)
    "vc_ivf_bq_recall" -> clustered(vector("v_ivf_bq_recall")),
    "vc_annmp_recall" -> clustered(round10("v_ann_store_recall")),
    "dc_embed_mp_recall" -> clustered(round9("d_embed_mp_recall")),

    // the eleventh SQL serving leg: the MIH radius store queried from
    // pure SQL — probe derivation (sign pack, corruption mask, 8
    // byte-block buckets) and Hamming verification in one statement,
    // proven lossless against the brute-force radius oracle
    "v_sql_store_mih" -> vector("v_bq_range"),

    // the lossy decode path: the committed fixture grids as literals
    // (the src_binary table-derived-oracle trick — DuckDB never sees an
    // image); the engine must reproduce them from the raw JPEG bytes
    "m_decode_jpeg" -> {
      val rows = graft.operators.JpegFixtures.all.toSeq.sortBy(_._1)
        .flatMap { case (id, (_, w, h, px)) =>
          for (y <- 0 until h; x <- 0 until w)
            yield s"($id, $y, $x, ${px(y * w + x)})"
        }
      s"""
      SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(y AS INTEGER) AS y,
        CAST(x AS INTEGER) AS x, CAST(px AS INTEGER) AS px
      FROM (VALUES ${rows.mkString(", ")}) AS t(doc_id, y, x, px)
      ORDER BY doc_id, y, x"""
    },

    // right-to-be-forgotten on the persisted flat store: victims = the
    // exact rank-1 neighbors of queries 0..2 (recomputed here), serving
    // = exact top-5 over table-minus-victims — a purge that missed a
    // row, or nuked a clean one, breaks the hash
    "q_purge_store" -> s"""
      WITH $knnCte,
      victims AS (SELECT DISTINCT neighbor_id FROM r
                  WHERE rnk = 1 AND query_id < 3),
      s2 AS (SELECT query_id, vec_id AS neighbor_id,
               ROUND(list_dot_product(qv, v) / (qn * nrm), 6) AS sim
             FROM n CROSS JOIN q WHERE vec_id <> query_id
               AND vec_id NOT IN (SELECT neighbor_id FROM victims)),
      r2 AS (SELECT query_id, neighbor_id, sim,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
             FROM s2)
      SELECT query_id, rnk, neighbor_id, sim FROM r2
      WHERE rnk <= 5 ORDER BY query_id, rnk"""
  )

  // ---- round 13: model drift -----------------------------------------

  /** Drift-cohort norms (Knn.driftFrame replayed): same md5-center
    * recipe as cluNormsCte but the `dctr_` seed family, residual scale
    * 1.0, and ids offset by 1000000. Emits `dfn` (vec_id, v, nrm).
    */
  private val driftNormsCte: String = """
      dfe AS (SELECT rid + 1000000 AS vec_id,
              list_transform(generate_series(1, 64), i ->
                CAST((CAST(('0x' || substr(md5('dctr_' || (rid % 8) || '_' || (i - 1)), 1, 8)) AS BIGINT)
                      % 2001 - 1000) AS DOUBLE) / 1000.0
                + 1.0 * v0[i]) AS v
            FROM (SELECT vec_id AS rid, embedding::DOUBLE[] AS v0 FROM embeddings) t0),
      dfn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM dfe)"""

  /** Parameterized Lloyd replay (the ivfCte training section with a
    * caller-chosen CTE prefix and train source) — lets one oracle hold
    * TWO deterministic trainings (frozen + retrained). Requires a
    * `ddims` dim-index CTE in scope; emits `${pfx}cent$IvfIters`.
    */
  private def lloydCte(pfx: String, train: String): String = {
    import graft.operators.Knn.{IvfClusters, IvfIters}
    val sb = new StringBuilder
    sb.append(s"""
      ${pfx}cent0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
                  v AS cv, sqrt(list_dot_product(v, v)) AS cn
                FROM $train WHERE vec_id < $IvfClusters)""")
    for (i <- 1 to IvfIters) {
      sb.append(s""",
      ${pfx}asg$i AS (SELECT vec_id, v, nrm, cid FROM (
            SELECT t0.vec_id, t0.v, t0.nrm, c.cid,
              ROW_NUMBER() OVER (PARTITION BY t0.vec_id ORDER BY
                ROUND(list_dot_product(t0.v, c.cv) / (t0.nrm * c.cn), 6) DESC,
                c.cid ASC) AS rn
            FROM $train t0 CROSS JOIN ${pfx}cent${i - 1} c) t WHERE rn = 1),
      ${pfx}cm$i AS (SELECT cid, d,
            list_reduce(list(v[d] ORDER BY vec_id), (a, b) -> a + b) / COUNT(*) AS m
          FROM ${pfx}asg$i CROSS JOIN ddims GROUP BY cid, d),
      ${pfx}cent$i AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM (
            SELECT cid, list(m ORDER BY d) AS cv FROM ${pfx}cm$i GROUP BY cid) t)""")
    }
    sb.toString
  }

  /** One IVF search + recall leg over `comb`/`dq`/`dex` (drift oracle
    * scaffolding): assign, probe DriftNprobe lists, top-5, recall@5.
    */
  private def driftLegCte(pfx: String, tag: String): String = {
    import graft.operators.Knn.{IvfIters, DriftNprobe, DefaultK}
    val cent = s"${pfx}cent$IvfIters"
    s"""
      ${pfx}asg AS (SELECT vec_id, v, nrm, cid FROM (
            SELECT b.vec_id, b.v, b.nrm, c.cid,
              ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
                ROUND(list_dot_product(b.v, c.cv) / (b.nrm * c.cn), 6) DESC,
                c.cid ASC) AS rn
            FROM comb b CROSS JOIN $cent c) t WHERE rn = 1),
      ${pfx}probe AS (SELECT query_id, qv, qn, cid AS pcid FROM (
            SELECT q.query_id, q.qv, q.qn, c.cid,
              ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                ROUND(list_dot_product(q.qv, c.cv) / (q.qn * c.cn), 6) DESC,
                c.cid ASC) AS rn
            FROM dq q CROSS JOIN $cent c) t WHERE rn <= $DriftNprobe),
      ${pfx}top AS (SELECT query_id, neighbor_id FROM (
            SELECT p.query_id, a.vec_id AS neighbor_id,
              ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
                ROUND(list_dot_product(p.qv, a.v) / (p.qn * a.nrm), 6) DESC,
                a.vec_id ASC) AS rnk
            FROM ${pfx}probe p JOIN ${pfx}asg a
              ON a.cid = p.pcid AND a.vec_id <> p.query_id) t WHERE rnk <= $DefaultK),
      ${pfx}rec AS (SELECT e.query_id,
              CAST(COUNT(m.neighbor_id) AS BIGINT) AS hits_$tag,
              ROUND(COUNT(m.neighbor_id) / 5.0, 6) AS recall_$tag
            FROM dex e LEFT JOIN ${pfx}top m
              ON m.query_id = e.query_id AND m.neighbor_id = e.neighbor_id
            GROUP BY e.query_id)"""
  }

  /** Shared drift scaffolding: raw + drifted sources, post-append
    * corpus, appended queries, exact ground truth, frozen training.
    */
  private def driftBaseCte: String = {
    import graft.operators.Knn.{IvfTrainSample, NumQueries, DriftOffset, DefaultK}
    s"""$normsCte, $driftNormsCte,
      ddims AS (SELECT unnest(generate_series(1, 64)) AS d),
      comb AS (SELECT vec_id, v, nrm FROM n
               UNION ALL SELECT vec_id, v, nrm FROM dfn),
      dq AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
             FROM dfn WHERE vec_id < ${DriftOffset + NumQueries}),
      dex AS (SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, b.vec_id AS neighbor_id,
              ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                ROUND(list_dot_product(q.qv, b.v) / (q.qn * b.nrm), 6) DESC,
                b.vec_id ASC) AS rnk
            FROM comb b CROSS JOIN dq q
            WHERE b.vec_id <> q.query_id) t WHERE rnk <= $DefaultK),
      fztrain AS (SELECT vec_id, v, nrm FROM n WHERE vec_id < $IvfTrainSample),
      ${lloydCte("fz", "fztrain")}"""
  }

  /** IVF tuning curve: one full-fan-out candidate pass (probe rank
    * kept), recall@5 per probe level vs exact cosine. Composes over
    * ivfCte (so the clustered() source swap reuses it verbatim).
    */
  private def ivfCurveSql: String = {
    import graft.operators.Knn.{IvfIters, NumQueries, DefaultK, CurveProbes}
    val denom = s"${5.0 * NumQueries}"
    s"""
      WITH $ivfCte,
      cvlv AS (SELECT unnest([${CurveProbes.mkString(", ")}]) AS nprobe),
      cvp AS (SELECT query_id, qv, qn, cid AS pcid, rn AS prank FROM (
            SELECT q.query_id, q.qv, q.qn, c.cid,
              ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                ROUND(list_dot_product(q.qv, c.cv) / (q.qn * c.cn), 6) DESC,
                c.cid ASC) AS rn
            FROM ivfq q CROSS JOIN cent$IvfIters c) t),
      cvc AS (SELECT p.query_id, a.vec_id AS neighbor_id,
                ROUND(list_dot_product(p.qv, a.v) / (p.qn * a.nrm), 6) AS sim,
                p.prank
              FROM cvp p JOIN ivfasg a
                ON a.cid = p.pcid AND a.vec_id <> p.query_id),
      cvt AS (SELECT nprobe, query_id, neighbor_id FROM (
            SELECT l.nprobe, c.query_id, c.neighbor_id,
              ROW_NUMBER() OVER (PARTITION BY l.nprobe, c.query_id
                ORDER BY c.sim DESC, c.neighbor_id) AS rnk
            FROM cvlv l JOIN cvc c ON c.prank <= l.nprobe) t WHERE rnk <= $DefaultK),
      cex_s AS (SELECT q2.query_id, n.vec_id AS neighbor_id,
              ROUND(list_dot_product(q2.qv, n.v) / (q2.qn * n.nrm), 6) AS sim
            FROM n CROSS JOIN ivfq q2 WHERE n.vec_id <> q2.query_id),
      cex AS (SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
              ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY sim DESC, neighbor_id) AS rnk
            FROM cex_s) t WHERE rnk <= $DefaultK)
      SELECT CAST(l.nprobe AS BIGINT) AS nprobe,
        CAST(COUNT(m.neighbor_id) AS BIGINT) AS hits,
        ROUND(COUNT(m.neighbor_id) / $denom, 6) AS recall
      FROM cvlv l CROSS JOIN cex e
      LEFT JOIN cvt m ON m.nprobe = l.nprobe
        AND m.query_id = e.query_id AND m.neighbor_id = e.neighbor_id
      GROUP BY l.nprobe ORDER BY nprobe"""
  }

  /** A documents-sourced oracle re-sourced from the NEAR-DUP frame
    * (Knn.nearDupDocs replayed: 40 shared md5 family pseudo-words +
    * the doc's own 120-char prefix) — the engine runs the same gate
    * over `<dir>#neardup`, so the oracle is the same SQL with the
    * documents source CTE swapped (the text-side clustered() analog).
    */
  /** The near-dup text projection (Knn.nearDupDocs replayed): 40
    * shared md5 family pseudo-words + the doc's own 120-char prefix.
    */
  private def ndWordsSql: String = {
    import graft.operators.Knn.{NdFamilies, NdWords}
    (0 until NdWords).map(j =>
      s"'w' || substr(md5('fam_' || (doc_id % $NdFamilies) || '_$j'), 1, 6) || ' '")
      .mkString(" || ")
  }

  private def ndDocsCte: String = s"""
      nddocs AS (SELECT doc_id, $ndWordsSql || substr(text, 1, 120) AS text
             FROM documents)"""

  private def nearDup(oracle: String): String = {
    require(oracle.contains(shinglesCte), "oracle does not embed the shingles CTE")
    oracle.replace(shinglesCte,
      ndDocsCte + "," + shinglesCte.replace("FROM documents", "FROM nddocs"))
  }

  /** The hybrid-fusion quality gate: clustered-LSH leg vs near-dup
    * BM25 leg vs their RRF fusion, recall@5 against exact cosine plus
    * family-precision@5, per query. Wrapped in clustered() so the
    * embeddings source is the clustered frame; the documents source is
    * the near-dup projection inline.
    */
  /** The two hybrid legs + exact truth, shared by vc_hybrid_recall
    * (plain RRF) and v_hybrid_weighted (min-max convex): LSH ANN
    * top-10 sims over the clustered corpus (v10/hs), BM25 top-10
    * scores over the near-dup docs (b10/bs), exact cosine top-5
    * (hex5).
    */
  private def hybridLegsCte: String = s"""
      $lshBandsCte,
      hq AS (SELECT b.vec_id AS query_id, b.band0 AS qb0, b.band1 AS qb1,
               n.v AS qv, n.nrm AS qn
             FROM bands b JOIN n ON n.vec_id = b.vec_id WHERE b.vec_id < 3),
      hcand AS (SELECT query_id, qv, qn, b.vec_id AS neighbor_id
                FROM hq JOIN bands b
                  ON b.vec_id <> query_id AND (b.band0 = qb0 OR b.band1 = qb1)),
      hs AS (SELECT query_id, neighbor_id,
               ROUND(list_dot_product(qv, y.v) / (qn * y.nrm), 6) AS sim
             FROM hcand JOIN n y ON y.vec_id = neighbor_id),
      v10 AS (SELECT query_id, neighbor_id, rnk FROM (
               SELECT query_id, neighbor_id,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
               FROM hs) t WHERE rnk <= 10),
      $ndDocsCte,
      btf AS (SELECT d.doc_id, tok, COUNT(*) AS tf FROM (
                SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
                FROM nddocs) d
              WHERE tok <> '' GROUP BY d.doc_id, tok),
      bdf AS (SELECT tok, COUNT(*) AS df FROM btf GROUP BY tok),
      bdl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM btf GROUP BY doc_id),
      bst AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM bdl),
      bqt AS (SELECT doc_id AS q_id, tok FROM btf WHERE doc_id < 3),
      bc AS (SELECT bq.q_id, t.doc_id, t.tok,
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                 * (t.tf * (CAST(1.2 AS DOUBLE) + 1)) /
                 (t.tf + 1.2 * (0.25 + 0.75 * dl
                   / (CAST(sum_dl AS DOUBLE) / n_docs))) AS c
             FROM btf t JOIN bqt bq ON t.tok = bq.tok AND t.doc_id <> bq.q_id
             JOIN bdf ON bdf.tok = t.tok
             JOIN bdl ON bdl.doc_id = t.doc_id
             CROSS JOIN bst),
      bs AS (SELECT q_id, doc_id,
               ROUND(list_reduce(list(c ORDER BY tok), (a, x) -> a + x), 6) AS score
             FROM bc GROUP BY q_id, doc_id),
      b10 AS (SELECT q_id, doc_id, rnk FROM (
                SELECT q_id, doc_id,
                  CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                    ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rnk
                FROM bs) t WHERE rnk <= 10),
            hex_s AS (SELECT q2.query_id, n.vec_id AS neighbor_id,
                 ROUND(list_dot_product(q2.qv, n.v) / (q2.qn * n.nrm), 6) AS sim
               FROM n CROSS JOIN (SELECT vec_id AS query_id, v AS qv, nrm AS qn
                                  FROM n WHERE vec_id < 3) q2
               WHERE n.vec_id <> q2.query_id),
      hex5 AS (SELECT query_id, neighbor_id FROM (
               SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY sim DESC, neighbor_id) AS rnk
               FROM hex_s) t WHERE rnk <= 5)"""

  /** The tuned-α derivation, replayed (Knn.tunedAlphaOf): max
    * per-query preservation threshold 1/(1+nv₅) over the vec leg's
    * rank-5 normalized scores, then the smallest AlphaGrid point at
    * least one grid step (0.05) above it. Expects a `vn` CTE carrying
    * (query_id, rnk, nv). Every grid literal is CAST to DOUBLE so the
    * comparison and the convex arithmetic run in the engine's IEEE
    * doubles, not DuckDB DECIMALs.
    */
  private def alphaGridSql: String =
    graft.operators.Knn.AlphaGrid.mkString("[", ",", "]")

  private def tunedAlphaCte: String = s"""
      thrq AS (SELECT MAX(1.0 / (1.0 + nv)) AS tmax FROM vn WHERE rnk = 5),
      agsel AS (SELECT COALESCE(MIN(ga),
                    CAST(${graft.operators.Knn.AlphaGrid.last} AS DOUBLE))
                  AS alpha
                FROM (SELECT CAST(x AS DOUBLE) AS ga
                      FROM unnest($alphaGridSql) AS g(x)) gg
                CROSS JOIN thrq
                WHERE ga >= tmax + CAST(0.05 AS DOUBLE))"""

  /** v_hybrid_weighted's oracle: both legs + truth from
    * [[hybridLegsCte]], then the SCORE-AWARE fusion arithmetic
    * replayed exactly — per-leg min-max over each query's top-10
    * (window min/max over the leg's round-6 scores, degenerate range
    * → 1.0), the TUNED-α derivation ([[tunedAlphaCte]] — r16: the
    * weight is data-derived, no longer an interpolated constant),
    * convex combination, round 6, top-5 by (fused DESC, doc_id ASC),
    * recall@5 per leg and fused.
    */
  private def hybridWeightedSql: String = {
    s"""
      WITH $hybridLegsCte,
      vn AS (SELECT query_id, neighbor_id, rnk,
               CASE WHEN mx = mn THEN 1.0 ELSE (sim - mn) / (mx - mn) END AS nv
             FROM (SELECT v.query_id, v.neighbor_id, v.rnk, hs.sim,
                     MIN(hs.sim) OVER (PARTITION BY v.query_id) AS mn,
                     MAX(hs.sim) OVER (PARTITION BY v.query_id) AS mx
                   FROM v10 v JOIN hs ON hs.query_id = v.query_id
                     AND hs.neighbor_id = v.neighbor_id) t),
      lnn AS (SELECT q_id, doc_id, rnk,
               CASE WHEN mx = mn THEN 1.0 ELSE (score - mn) / (mx - mn) END AS nl
             FROM (SELECT b2.q_id, b2.doc_id, b2.rnk, bs.score,
                     MIN(bs.score) OVER (PARTITION BY b2.q_id) AS mn,
                     MAX(bs.score) OVER (PARTITION BY b2.q_id) AS mx
                   FROM b10 b2 JOIN bs ON bs.q_id = b2.q_id
                     AND bs.doc_id = b2.doc_id) t),
      $tunedAlphaCte,
      fusedw AS (SELECT COALESCE(v.query_id, l.q_id) AS query_id,
                   COALESCE(v.neighbor_id, l.doc_id) AS doc_id,
                   ROUND((SELECT alpha FROM agsel) * COALESCE(v.nv, 0.0)
                       + (1.0 - (SELECT alpha FROM agsel))
                         * COALESCE(l.nl, 0.0), 6) AS f
                 FROM vn v FULL OUTER JOIN lnn l
                   ON v.query_id = l.q_id AND v.neighbor_id = l.doc_id),
      ftop AS (SELECT query_id, doc_id FROM (
               SELECT query_id, doc_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY f DESC, doc_id ASC) AS rnk
               FROM fusedw) t WHERE rnk <= 5),
      vtop AS (SELECT query_id, neighbor_id AS doc_id FROM v10 WHERE rnk <= 5),
      ltop AS (SELECT q_id AS query_id, doc_id FROM b10 WHERE rnk <= 5),
      rv AS (SELECT e.query_id, ROUND(COUNT(m.doc_id) / 5.0, 6) AS recall_vec
             FROM hex5 e LEFT JOIN vtop m
               ON m.query_id = e.query_id AND m.doc_id = e.neighbor_id
             GROUP BY e.query_id),
      rl AS (SELECT e.query_id, ROUND(COUNT(m.doc_id) / 5.0, 6) AS recall_lex
             FROM hex5 e LEFT JOIN ltop m
               ON m.query_id = e.query_id AND m.doc_id = e.neighbor_id
             GROUP BY e.query_id),
      rf AS (SELECT e.query_id, ROUND(COUNT(m.doc_id) / 5.0, 6) AS recall_fused
             FROM hex5 e LEFT JOIN ftop m
               ON m.query_id = e.query_id AND m.doc_id = e.neighbor_id
             GROUP BY e.query_id)
      SELECT rv.query_id, recall_vec, recall_lex, recall_fused
      FROM rv JOIN rl ON rl.query_id = rv.query_id
      JOIN rf ON rf.query_id = rv.query_id
      ORDER BY rv.query_id"""
  }

  /** v_hybrid_curve's oracle: the full tuning curve — fused recall@5
    * at 0.5 plus every AlphaGrid point, with the chosen-point rule
    * ([[tunedAlphaCte]]) replayed so the tuning job itself is
    * hash-gated. Same legs and truth as v_hybrid_weighted.
    */
  private def hybridCurveSql: String = s"""
      WITH $hybridLegsCte,
      vn AS (SELECT query_id, neighbor_id, rnk,
               CASE WHEN mx = mn THEN 1.0 ELSE (sim - mn) / (mx - mn) END AS nv
             FROM (SELECT v.query_id, v.neighbor_id, v.rnk, hs.sim,
                     MIN(hs.sim) OVER (PARTITION BY v.query_id) AS mn,
                     MAX(hs.sim) OVER (PARTITION BY v.query_id) AS mx
                   FROM v10 v JOIN hs ON hs.query_id = v.query_id
                     AND hs.neighbor_id = v.neighbor_id) t),
      lnn AS (SELECT q_id, doc_id, rnk,
               CASE WHEN mx = mn THEN 1.0 ELSE (score - mn) / (mx - mn) END AS nl
             FROM (SELECT b2.q_id, b2.doc_id, b2.rnk, bs.score,
                     MIN(bs.score) OVER (PARTITION BY b2.q_id) AS mn,
                     MAX(bs.score) OVER (PARTITION BY b2.q_id) AS mx
                   FROM b10 b2 JOIN bs ON bs.q_id = b2.q_id
                     AND bs.doc_id = b2.doc_id) t),
      $tunedAlphaCte,
      cgrid AS (SELECT CAST(x AS DOUBLE) AS a
                FROM unnest([0.5,${graft.operators.Knn.AlphaGrid.mkString(",")}])
                  AS g(x)),
      cpairs AS (SELECT COALESCE(v.query_id, l.q_id) AS query_id,
                   COALESCE(v.neighbor_id, l.doc_id) AS doc_id,
                   COALESCE(v.nv, 0.0) AS nv, COALESCE(l.nl, 0.0) AS nl
                 FROM vn v FULL OUTER JOIN lnn l
                   ON v.query_id = l.q_id AND v.neighbor_id = l.doc_id),
      cf AS (SELECT g.a, query_id, doc_id,
               ROUND(g.a * nv + (1.0 - g.a) * nl, 6) AS f
             FROM cgrid g CROSS JOIN cpairs),
      cft AS (SELECT a, query_id, doc_id FROM (
               SELECT a, query_id, doc_id,
                 ROW_NUMBER() OVER (PARTITION BY a, query_id
                   ORDER BY f DESC, doc_id ASC) AS rnk
               FROM cf) t WHERE rnk <= 5),
      crc AS (SELECT ge.a,
                ROUND(COUNT(m.doc_id)
                  / CAST(${3 * graft.operators.Knn.DefaultK} AS DOUBLE), 6)
                  AS recall_fused
              FROM (SELECT g.a, e.query_id, e.neighbor_id
                    FROM cgrid g CROSS JOIN hex5 e) ge
              LEFT JOIN cft m ON m.a = ge.a AND m.query_id = ge.query_id
                AND m.doc_id = ge.neighbor_id
              GROUP BY ge.a)
      SELECT crc.a AS alpha, recall_fused,
        CAST(CASE WHEN crc.a = (SELECT alpha FROM agsel) THEN 1 ELSE 0 END
          AS BIGINT) AS chosen
      FROM crc ORDER BY alpha"""

  private def hybridRecallSql: String = {
    import graft.operators.Knn.NdFamilies
    s"""
      WITH $hybridLegsCte,
      fused AS (SELECT COALESCE(v.query_id, b.q_id) AS query_id,
                  COALESCE(v.neighbor_id, b.doc_id) AS doc_id,
                  ROUND((CASE WHEN v.rnk IS NOT NULL
                           THEN 1.0 / (60 + v.rnk) ELSE 0.0 END)
                      + (CASE WHEN b.rnk IS NOT NULL
                           THEN 1.0 / (60 + b.rnk) ELSE 0.0 END), 6) AS f
                FROM v10 v FULL OUTER JOIN b10 b
                  ON v.query_id = b.q_id AND v.neighbor_id = b.doc_id),
      ftop AS (SELECT query_id, doc_id FROM (
               SELECT query_id, doc_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY f DESC, doc_id ASC) AS rnk
               FROM fused) t WHERE rnk <= 5),
      vtop AS (SELECT query_id, neighbor_id AS doc_id FROM v10 WHERE rnk <= 5),
      ltop AS (SELECT q_id AS query_id, doc_id FROM b10 WHERE rnk <= 5),
      rv AS (SELECT e.query_id, ROUND(COUNT(m.doc_id) / 5.0, 6) AS recall_vec
             FROM hex5 e LEFT JOIN vtop m
               ON m.query_id = e.query_id AND m.doc_id = e.neighbor_id
             GROUP BY e.query_id),
      rl AS (SELECT e.query_id, ROUND(COUNT(m.doc_id) / 5.0, 6) AS recall_lex
             FROM hex5 e LEFT JOIN ltop m
               ON m.query_id = e.query_id AND m.doc_id = e.neighbor_id
             GROUP BY e.query_id),
      rf AS (SELECT e.query_id, ROUND(COUNT(m.doc_id) / 5.0, 6) AS recall_fused
             FROM hex5 e LEFT JOIN ftop m
               ON m.query_id = e.query_id AND m.doc_id = e.neighbor_id
             GROUP BY e.query_id),
      fv AS (SELECT query_id, ROUND(CAST(SUM(CASE WHEN doc_id % $NdFamilies =
               query_id % $NdFamilies THEN 1 ELSE 0 END) AS BIGINT) / 5.0, 6)
               AS fam_vec
             FROM vtop GROUP BY query_id),
      fl AS (SELECT query_id, ROUND(CAST(SUM(CASE WHEN doc_id % $NdFamilies =
               query_id % $NdFamilies THEN 1 ELSE 0 END) AS BIGINT) / 5.0, 6)
               AS fam_lex
             FROM ltop GROUP BY query_id),
      ff AS (SELECT query_id, ROUND(CAST(SUM(CASE WHEN doc_id % $NdFamilies =
               query_id % $NdFamilies THEN 1 ELSE 0 END) AS BIGINT) / 5.0, 6)
               AS fam_fused
             FROM ftop GROUP BY query_id)
      SELECT rv.query_id, recall_vec, recall_lex, recall_fused,
        fam_vec, fam_lex, fam_fused
      FROM rv JOIN rl ON rl.query_id = rv.query_id
      JOIN rf ON rf.query_id = rv.query_id
      JOIN fv ON fv.query_id = rv.query_id
      JOIN fl ON fl.query_id = rv.query_id
      JOIN ff ON ff.query_id = rv.query_id
      ORDER BY rv.query_id"""
  }

  val round13: Map[String, String] = {
    import graft.operators.Knn.{IvfTrainSample, IvfIters, DriftOffset}
    val half = IvfTrainSample / 2
    Map(
      // the late-interaction recall twin over planted near-dup
      // DOCUMENT families (closes the r12 verdict's half-item: maxsim
      // vectors derive from text, so the twin needed a text-side
      // corpus, not the embedding routing)
      "vc_maxsim_recall" -> nearDup(vMaxsimRecallSql),

      // MinHash banding recall on the planted families — the text
      // dedup suite's discriminating-power twin (band pairs replayed,
      // per-query family roster from the near-dup projection itself)
      "dn_minhash_recall" -> nearDup(s"""
      WITH $bandPairsCte,
      dnf AS (SELECT doc1 AS q, doc2 AS p FROM pairs WHERE doc1 < 10
              UNION ALL
              SELECT doc2 AS q, doc1 AS p FROM pairs WHERE doc2 < 10),
      dng AS (SELECT q, COUNT(DISTINCT p) AS n_found
              FROM dnf WHERE p % 8 = q % 8 GROUP BY q),
      dfs AS (SELECT doc_id % 8 AS fam, COUNT(*) AS n FROM nddocs
              GROUP BY doc_id % 8),
      dqs AS (SELECT doc_id AS q, doc_id % 8 AS fam FROM nddocs WHERE doc_id < 10)
      SELECT dqs.q AS query_id, CAST(dfs.n - 1 AS BIGINT) AS n_family,
        CAST(COALESCE(dng.n_found, 0) AS BIGINT) AS n_found,
        ROUND(COALESCE(dng.n_found, 0) / CAST(dfs.n - 1 AS DOUBLE), 6) AS recall
      FROM dqs JOIN dfs ON dfs.fam = dqs.fam
      LEFT JOIN dng ON dng.q = dqs.q
      ORDER BY query_id"""),

      // hybrid fusion quality: clustered-LSH leg × near-dup BM25 leg ×
      // RRF, recall@5 vs exact cosine + family-precision@5 — the
      // two-sided honest result (fusion preserves coarse relevance,
      // dilutes the stronger leg's fine-grained recall) spec-pinned
      "vc_hybrid_recall" -> clustered(hybridRecallSql),

      // score-aware fusion (r15): min-max + tuned convex — the fusion
      // arithmetic itself oracle-replayed, property "fused >= best
      // single leg" spec-pinned (plain RRF measurably lacks it)
      "v_hybrid_weighted" -> clustered(hybridWeightedSql),
      // the IVF tuning curve, isotropic + clustered flavors
      "v_ivf_curve" -> ivfCurveSql,
      "vc_ivf_curve" -> clustered(ivfCurveSql),

      // the persisted lexical tier: store search, streamed-maintainer
      // search, and the twelfth SQL leg all hash-share t_bm25's
      // one-shot oracle — append algebra, batchId-shard idempotency,
      // and SQL-surface parity proven by the same hash
      // vacuum is purely physical: the post-vacuum search must still
      // hash-match the table-minus-victims oracle
      "q_vacuum_store" -> round12("q_purge_store"),

      "v_bm25_store" -> round12("t_bm25"),
      "s_bm25_ingest" -> round12("t_bm25"),
      "v_sql_store_bm25" -> round12("t_bm25"),

      // lexical-tier TIME TRAVEL: post-purge searchBefore must serve
      // the FULL-corpus ranking — purged docs back with exact scores,
      // the r15 versioned appends + correction versioning hash-proven
      // by the same one-shot oracle
      "q_snapshot_bm25" -> round12("t_bm25"),

      // lexical-tier purge: postings, dl, AND the negative stats
      // correction must land exactly on the corpus-minus-victims BM25
      "v_bm25_purge" -> {
        val base = round12("t_bm25")
        require(base.sliding("FROM documents".length).count(_ == "FROM documents") == 1,
          "t_bm25 oracle shape changed")
        base.replace("FROM documents",
          "FROM (SELECT * FROM documents WHERE doc_id NOT IN (3, 4))")
      },

      // the drift measurement against the PERSISTED layout: frozen
      // sidecar append + the store's own nprobe=1 search must land on
      // the in-session frozen leg's numbers exactly
      "v_ivf_drift_store" -> s"""
      WITH $driftBaseCte,
      ${driftLegCte("fz", "frozen")}
      SELECT query_id, hits_frozen AS hits, recall_frozen AS recall
      FROM fzrec ORDER BY query_id""",

      // the pre-purge audit read over the retired-snapshot lineage:
      // readBefore(1) restores the purge victims bit-for-bit, so the
      // snapshot search hash-matches the FULL-corpus exact oracle
      "q_snapshot_store" -> vector("v_knn_exact"),
      // frozen-model append drift: Lloyd replayed TWICE (isotropic-
      // prefix training vs bounded 50/50 post-append retrain), both
      // searches probed at DriftNprobe, recall@5 on the appended
      // cohort's queries against exact cosine over the post-append
      // corpus
      "v_ivf_drift_recall" -> s"""
      WITH $driftBaseCte,
      rttrain AS (SELECT vec_id, v, nrm FROM n WHERE vec_id < $half
                  UNION ALL
                  SELECT vec_id - $DriftOffset + $half AS vec_id, v, nrm
                  FROM dfn WHERE vec_id < ${DriftOffset + half}),
      ${lloydCte("rt", "rttrain")},
      ${driftLegCte("fz", "frozen")},
      ${driftLegCte("rt", "retrained")}
      SELECT f.query_id, f.hits_frozen, f.recall_frozen,
        r.hits_retrained, r.recall_retrained
      FROM fzrec f JOIN rtrec r ON r.query_id = f.query_id
      ORDER BY f.query_id""",

      // retrain advisor: per-(cohort, frozen-list) rank-based
      // assignment-similarity quantiles (value at row ceil(p·n) of the
      // (asim, vec_id)-sorted list — no interpolation, engine-exact)
      "v_ivf_drift_report" -> s"""
      WITH $driftBaseCte,
      rall AS (SELECT 'train' AS cohort, vec_id, v, nrm FROM n
                 WHERE vec_id < $IvfTrainSample
               UNION ALL SELECT 'appended', vec_id, v, nrm FROM dfn),
      rasg AS (SELECT cohort, vec_id, cid, asim FROM (
            SELECT r.cohort, r.vec_id, c.cid,
              ROUND(list_dot_product(r.v, c.cv) / (r.nrm * c.cn), 6) AS asim,
              ROW_NUMBER() OVER (PARTITION BY r.cohort, r.vec_id ORDER BY
                ROUND(list_dot_product(r.v, c.cv) / (r.nrm * c.cn), 6) DESC,
                c.cid ASC) AS rn
            FROM rall r CROSS JOIN fzcent$IvfIters c) t WHERE rn = 1),
      rrank AS (SELECT cohort, cid, asim,
              ROW_NUMBER() OVER (PARTITION BY cohort, cid
                ORDER BY asim ASC, vec_id ASC) AS rn,
              COUNT(*) OVER (PARTITION BY cohort, cid) AS n
            FROM rasg)
      SELECT cohort, CAST(cid AS BIGINT) AS cid, MAX(n) AS n,
        MAX(CASE WHEN rn = CAST(CEIL(n * 0.25) AS BIGINT) THEN asim END) AS q25,
        MAX(CASE WHEN rn = CAST(CEIL(n * 0.5) AS BIGINT) THEN asim END) AS q50,
        MAX(CASE WHEN rn = CAST(CEIL(n * 0.75) AS BIGINT) THEN asim END) AS q75
      FROM rrank GROUP BY cohort, cid ORDER BY cohort, cid"""
    )
  }

  // ---- round 14: retrain remediation + lexical tier depth ------------

  val round14: Map[String, String] = {
    import graft.operators.Knn.{IvfTrainSample, DriftOffset, IvfIters}
    val half = IvfTrainSample / 2
    val phraseOracle = """
      WITH dt AS (SELECT doc_id,
              list_filter(regexp_split_to_array(trim(text), '\s+'),
                t -> t <> '') AS arr
            FROM documents),
      tp AS (SELECT doc_id, unnest(arr) AS tok,
               generate_subscripts(arr, 1) AS pos FROM dt),
      pl AS (SELECT doc_id, tok, list_sort(list(pos)) AS ps
             FROM tp GROUP BY doc_id, tok),
      qp AS (SELECT doc_id AS q_id, arr[1] AS w1, arr[2] AS w2
             FROM dt WHERE doc_id < 3),
      m AS (SELECT q.q_id, a.doc_id,
              CAST(len(list_filter(a.ps, p -> list_contains(b.ps, p + 1)))
                AS BIGINT) AS phrase_tf
            FROM qp q
            JOIN pl a ON a.tok = q.w1 AND a.doc_id <> q.q_id
            JOIN pl b ON b.doc_id = a.doc_id AND b.tok = q.w2),
      r AS (SELECT q_id AS query_id, doc_id, phrase_tf,
              CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                ORDER BY phrase_tf DESC, doc_id ASC) AS BIGINT) AS rnk
            FROM m WHERE phrase_tf > 0)
      SELECT query_id, rnk, doc_id, phrase_tf FROM r
      WHERE rnk <= 10 ORDER BY query_id, rnk"""
    Map(
      // the remediation: the store's own search AFTER
      // IvfIndexStore.retrain must land exactly on the RETRAINED leg
      // of the drift oracle — the same bounded 50/50 post-append Lloyd
      // replay, recall@5 restored to 1.0 (vs the frozen leg's 0.5
      // that v_ivf_drift_store pins on the same lifecycle)
      "v_ivf_retrain_store" -> s"""
      WITH $driftBaseCte,
      rttrain AS (SELECT vec_id, v, nrm FROM n WHERE vec_id < $half
                  UNION ALL
                  SELECT vec_id - $DriftOffset + $half AS vec_id, v, nrm
                  FROM dfn WHERE vec_id < ${DriftOffset + half}),
      ${lloydCte("rt", "rttrain")},
      ${driftLegCte("rt", "retrained")}
      SELECT query_id, hits_retrained AS hits, recall_retrained AS recall
      FROM rtrec ORDER BY query_id""",

      // exact-phrase over the positional postings: 1-based position
      // lists per (doc, tok), a doc matches when term₂ sits at
      // position p+1 for some p of term₁ (each query doc's first two
      // tokens), phrase frequency = the intersection size — the
      // engine's adjacency fold replayed with list_filter/list_contains.
      // v_sql_store_phrase (the SQL serving leg over the persisted
      // positional store) hash-shares this oracle with the engine leg.
      "v_bm25_phrase" -> phraseOracle,
      "v_sql_store_phrase" -> phraseOracle,

      // the LEXICAL drift monitor's PSI, replayed end to end: both
      // bounded lowest-doc_id samples, the whitespace tokenize, the
      // md5 token-bucket arithmetic, the vowel→digit remap of wave 2
      // (translate ≡ sequential disjoint-target replaces), the 1e-3
      // floors, and the (q−p)ln(q/p) sum. Wave 1 bootstraps the
      // baseline, so its psi is exactly 0.
      "s_bm25_drift" -> s"""
      WITH w1 AS (SELECT text FROM documents WHERE doc_id % 2 = 0
                  ORDER BY doc_id LIMIT ${graft.streaming.EventStreams.LexDriftSample}),
      w2 AS (SELECT replace(replace(replace(replace(replace(
               text, 'a', '0'), 'e', '1'), 'i', '2'), 'o', '3'), 'u', '4') AS text
             FROM documents WHERE doc_id % 2 = 1
             ORDER BY doc_id LIMIT ${graft.streaming.EventStreams.LexDriftSample}),
      t1 AS (SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
               t -> t <> '')) AS tok FROM w1),
      t2 AS (SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
               t -> t <> '')) AS tok FROM w2),
      b1 AS (SELECT CAST(('0x' || substr(md5('bm25tb_' || tok), 1, 8)) AS BIGINT)
               % ${graft.sources.Bm25Store.Buckets} AS b FROM t1),
      b2 AS (SELECT CAST(('0x' || substr(md5('bm25tb_' || tok), 1, 8)) AS BIGINT)
               % ${graft.sources.Bm25Store.Buckets} AS b FROM t2),
      buckets AS (SELECT range AS b FROM range(${graft.sources.Bm25Store.Buckets})),
      n1 AS (SELECT COUNT(*) AS n FROM b1),
      n2 AS (SELECT COUNT(*) AS n FROM b2),
      h1 AS (SELECT bk.b,
               GREATEST(CAST(COALESCE(x.cnt, 0) AS DOUBLE) / n1.n,
                 CAST(0.001 AS DOUBLE)) AS p
             FROM buckets bk CROSS JOIN n1
             LEFT JOIN (SELECT b, COUNT(*) AS cnt FROM b1 GROUP BY b) x
               ON x.b = bk.b),
      h2 AS (SELECT bk.b,
               GREATEST(CAST(COALESCE(x.cnt, 0) AS DOUBLE) / n2.n,
                 CAST(0.001 AS DOUBLE)) AS q
             FROM buckets bk CROSS JOIN n2
             LEFT JOIN (SELECT b, COUNT(*) AS cnt FROM b2 GROUP BY b) x
               ON x.b = bk.b),
      ps AS (SELECT SUM((h2.q - h1.p) * LN(h2.q / h1.p)) AS psi
             FROM h1 JOIN h2 ON h2.b = h1.b)
      SELECT CAST(0 AS BIGINT) AS bid, n1.n AS n_sampled,
        CAST(0.0 AS DOUBLE) AS psi, CAST(0 AS BIGINT) AS drift_flagged
      FROM n1
      UNION ALL
      SELECT CAST(1 AS BIGINT), n2.n, ROUND(ps.psi, 6),
        CAST(CASE WHEN ps.psi >
          ${graft.streaming.EventStreams.DriftPsiThreshold} THEN 1 ELSE 0 END
          AS BIGINT)
      FROM n2 CROSS JOIN ps
      ORDER BY bid""",

      // the per-wave drift monitor's PSI, replayed end to end: both
      // bounded samples (lowest-id prefixes), the float32 quantization
      // the stream schema imposes on the drifted wave, the round-6
      // assignment argmax under the frozen Lloyd replay, the 1e-3
      // proportion floors, and the (q-p)ln(q/p) sum. Wave 1 is the
      // monitor's own bootstrap baseline, so its psi is exactly 0.
      "s_drift_monitor" -> s"""
      WITH $driftBaseCte,
      bsm AS (SELECT vec_id, v, nrm FROM n
              ORDER BY vec_id LIMIT $IvfTrainSample),
      wsm0 AS (SELECT vec_id,
                 list_transform(v, x -> CAST(CAST(x AS REAL) AS DOUBLE)) AS v
               FROM (SELECT vec_id, v FROM dfn
                     ORDER BY vec_id LIMIT $IvfTrainSample) t),
      wsm AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM wsm0),
      basg AS (SELECT cid FROM (
            SELECT b.vec_id, c.cid,
              ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
                ROUND(list_dot_product(b.v, c.cv) / (b.nrm * c.cn), 6) DESC,
                c.cid ASC) AS rn
            FROM bsm b CROSS JOIN fzcent$IvfIters c) t WHERE rn = 1),
      wasg AS (SELECT cid FROM (
            SELECT w.vec_id, c.cid,
              ROW_NUMBER() OVER (PARTITION BY w.vec_id ORDER BY
                ROUND(list_dot_product(w.v, c.cv) / (w.nrm * c.cn), 6) DESC,
                c.cid ASC) AS rn
            FROM wsm w CROSS JOIN fzcent$IvfIters c) t WHERE rn = 1),
      bcnt AS (SELECT COUNT(*) AS n FROM bsm),
      wcnt AS (SELECT COUNT(*) AS n FROM wsm),
      bh AS (SELECT c.cid,
               GREATEST(CAST(COALESCE(x.cnt, 0) AS DOUBLE) / bcnt.n,
                 CAST(0.001 AS DOUBLE)) AS p
             FROM fzcent$IvfIters c CROSS JOIN bcnt
             LEFT JOIN (SELECT cid, COUNT(*) AS cnt FROM basg GROUP BY cid) x
               ON x.cid = c.cid),
      wh AS (SELECT c.cid,
               GREATEST(CAST(COALESCE(x.cnt, 0) AS DOUBLE) / wcnt.n,
                 CAST(0.001 AS DOUBLE)) AS q
             FROM fzcent$IvfIters c CROSS JOIN wcnt
             LEFT JOIN (SELECT cid, COUNT(*) AS cnt FROM wasg GROUP BY cid) x
               ON x.cid = c.cid),
      ps AS (SELECT SUM((w.q - b.p) * LN(w.q / b.p)) AS psi
             FROM bh b JOIN wh w ON w.cid = b.cid)
      SELECT CAST(0 AS BIGINT) AS bid, bcnt.n AS n_sampled,
        CAST(0.0 AS DOUBLE) AS psi, CAST(0 AS BIGINT) AS retrain_recommended
      FROM bcnt
      UNION ALL
      SELECT CAST(1 AS BIGINT), wcnt.n, ROUND(ps.psi, 6),
        CAST(CASE WHEN ps.psi >
          ${graft.streaming.EventStreams.DriftPsiThreshold} THEN 1 ELSE 0 END
          AS BIGINT)
      FROM wcnt CROSS JOIN ps
      ORDER BY bid""",

      // hybrid search from the PERSISTED tiers: both legs' rankings
      // are the ones v_hybrid_bm25's oracle already replays (exact
      // cosine + Okapi BM25), so the persisted fusion shares it —
      // a hash match proves store-served hybrid ≡ in-session hybrid
      "v_hybrid_store" -> round12("v_hybrid_bm25"),

      // the SCORE-AWARE persisted fusion: both legs' rankings (exact
      // cosine + Okapi BM25 — v_hybrid_bm25's CTEs, scores kept) plus
      // the min-max + convex arithmetic, with the engine's exact IEEE
      // double literals interpolated
      "v_hybrid_weighted_store" -> {
        s"""
      WITH $knnCte,
      v10 AS (SELECT query_id, neighbor_id, sim, rnk FROM r
              WHERE query_id < 3 AND rnk <= 10),
      btf AS (SELECT d.doc_id, tok, COUNT(*) AS tf FROM (
                SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
                FROM documents) d
              WHERE tok <> '' GROUP BY d.doc_id, tok),
      bdf AS (SELECT tok, COUNT(*) AS df FROM btf GROUP BY tok),
      bdl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM btf GROUP BY doc_id),
      bst AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM bdl),
      bqt AS (SELECT doc_id AS q_id, tok FROM btf WHERE doc_id < 3),
      bc AS (SELECT bq.q_id, t.doc_id, t.tok,
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                 * (t.tf * (CAST(1.2 AS DOUBLE) + 1)) /
                 (t.tf + 1.2 * (0.25 + 0.75 * dl
                   / (CAST(sum_dl AS DOUBLE) / n_docs))) AS c
             FROM btf t JOIN bqt bq ON t.tok = bq.tok AND t.doc_id <> bq.q_id
             JOIN bdf ON bdf.tok = t.tok
             JOIN bdl ON bdl.doc_id = t.doc_id
             CROSS JOIN bst),
      bs AS (SELECT q_id, doc_id,
               ROUND(list_reduce(list(c ORDER BY tok), (a, x) -> a + x), 6) AS score
             FROM bc GROUP BY q_id, doc_id),
      b10 AS (SELECT q_id, doc_id, score, rnk FROM (
                SELECT q_id, doc_id, score,
                  CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                    ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rnk
                FROM bs) t WHERE rnk <= 10),
      vn AS (SELECT query_id, neighbor_id, rnk,
               CASE WHEN mx = mn THEN 1.0 ELSE (sim - mn) / (mx - mn) END AS nv
             FROM (SELECT query_id, neighbor_id, rnk, sim,
                     MIN(sim) OVER (PARTITION BY query_id) AS mn,
                     MAX(sim) OVER (PARTITION BY query_id) AS mx
                   FROM v10) t),
      lnn AS (SELECT q_id, doc_id,
               CASE WHEN mx = mn THEN 1.0 ELSE (score - mn) / (mx - mn) END AS nl
             FROM (SELECT q_id, doc_id, score,
                     MIN(score) OVER (PARTITION BY q_id) AS mn,
                     MAX(score) OVER (PARTITION BY q_id) AS mx
                   FROM b10) t),
      $tunedAlphaCte,
      fusedw AS (SELECT COALESCE(v.query_id, l.q_id) AS query_id,
                   COALESCE(v.neighbor_id, l.doc_id) AS doc_id,
                   ROUND((SELECT alpha FROM agsel) * COALESCE(v.nv, 0.0)
                       + (1.0 - (SELECT alpha FROM agsel))
                         * COALESCE(l.nl, 0.0), 6) AS fused
                 FROM vn v FULL OUTER JOIN lnn l
                   ON v.query_id = l.q_id AND v.neighbor_id = l.doc_id),
      fr AS (SELECT query_id, doc_id, fused,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY fused DESC, doc_id ASC) AS BIGINT) AS rnk
             FROM fusedw)
      SELECT query_id, rnk, doc_id, fused FROM fr
      WHERE rnk <= 5 ORDER BY query_id, rnk"""
      },

      // ordered proximity over the positional postings: for each
      // anchor position p of term₁, the doc matches when term₂ has
      // ANY position in (p, p + 1 + slop] — for two terms this is
      // exactly the engine's greedy chain (smallest-after-anchor pick
      // lands in the window iff any position does); near_tf counts
      // the matching anchors
      "v_bm25_near" -> s"""
      WITH dt AS (SELECT doc_id,
              list_filter(regexp_split_to_array(trim(text), '\\s+'),
                t -> t <> '') AS arr
            FROM documents),
      tp AS (SELECT doc_id, unnest(arr) AS tok,
               generate_subscripts(arr, 1) AS pos FROM dt),
      pl AS (SELECT doc_id, tok, list_sort(list(pos)) AS ps
             FROM tp GROUP BY doc_id, tok),
      qp AS (SELECT doc_id AS q_id, arr[1] AS w1, arr[2] AS w2
             FROM dt WHERE doc_id < 3),
      m AS (SELECT q.q_id, a.doc_id,
              CAST(len(list_filter(a.ps, p -> len(list_filter(b.ps,
                q -> q > p AND q <= p + 1 + ${graft.sources.Bm25StoreQueries.NearSlop}))
                > 0)) AS BIGINT) AS near_tf
            FROM qp q
            JOIN pl a ON a.tok = q.w1 AND a.doc_id <> q.q_id
            JOIN pl b ON b.doc_id = a.doc_id AND b.tok = q.w2),
      r AS (SELECT q_id AS query_id, doc_id, near_tf,
              CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                ORDER BY near_tf DESC, doc_id ASC) AS BIGINT) AS rnk
            FROM m WHERE near_tf > 0)
      SELECT query_id, rnk, doc_id, near_tf FROM r
      WHERE rnk <= 10 ORDER BY query_id, rnk""",

      // v_sql_store_near (the SQL serving leg for ordered proximity)
      // hash-shares v_bm25_near's oracle above.
      "v_sql_store_near" -> s"""
      WITH dt AS (SELECT doc_id,
              list_filter(regexp_split_to_array(trim(text), '\\s+'),
                t -> t <> '') AS arr
            FROM documents),
      tp AS (SELECT doc_id, unnest(arr) AS tok,
               generate_subscripts(arr, 1) AS pos FROM dt),
      pl AS (SELECT doc_id, tok, list_sort(list(pos)) AS ps
             FROM tp GROUP BY doc_id, tok),
      qp AS (SELECT doc_id AS q_id, arr[1] AS w1, arr[2] AS w2
             FROM dt WHERE doc_id < 3),
      m AS (SELECT q.q_id, a.doc_id,
              CAST(len(list_filter(a.ps, p -> len(list_filter(b.ps,
                q -> q > p AND q <= p + 1 + ${graft.sources.Bm25StoreQueries.NearSlop}))
                > 0)) AS BIGINT) AS near_tf
            FROM qp q
            JOIN pl a ON a.tok = q.w1 AND a.doc_id <> q.q_id
            JOIN pl b ON b.doc_id = a.doc_id AND b.tok = q.w2),
      r AS (SELECT q_id AS query_id, doc_id, near_tf,
              CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                ORDER BY near_tf DESC, doc_id ASC) AS BIGINT) AS rnk
            FROM m WHERE near_tf > 0)
      SELECT query_id, rnk, doc_id, near_tf FROM r
      WHERE rnk <= 10 ORDER BY query_id, rnk""",

      // three-term ordered proximity: THE GREEDY CHAIN ITSELF,
      // unrolled per anchor — chain2 = min{pos₂ > p}, chain3 =
      // min{pos₃ > chain2}, anchor hits iff chain3 ≤ p + 2 + slop.
      // NULL propagation replays the engine's broken-chain semantics:
      // an empty filter's list_min is NULL, every later comparison
      // stays NULL, and the anchor falls out of the count — exactly
      // proximitySearch's when(acc.isNull) fold. Query docs filter to
      // ≥3 tokens so arr[3] never NULLs a join key.
      "v_bm25_near3" -> s"""
      WITH dt AS (SELECT doc_id,
              list_filter(regexp_split_to_array(trim(text), '\\s+'),
                t -> t <> '') AS arr
            FROM documents),
      tp AS (SELECT doc_id, unnest(arr) AS tok,
               generate_subscripts(arr, 1) AS pos FROM dt),
      pl AS (SELECT doc_id, tok, list_sort(list(pos)) AS ps
             FROM tp GROUP BY doc_id, tok),
      qp AS (SELECT doc_id AS q_id, arr[1] AS w1, arr[2] AS w2, arr[3] AS w3
             FROM dt WHERE doc_id < 3 AND len(arr) >= 3),
      m AS (SELECT q.q_id, a.doc_id,
              CAST(len(list_filter(a.ps, p ->
                list_min(list_filter(c.ps, z -> z >
                  list_min(list_filter(b.ps, y -> y > p))))
                <= p + 2 + ${graft.sources.Bm25StoreQueries.Near3Slop}))
                AS BIGINT) AS near_tf
            FROM qp q
            JOIN pl a ON a.tok = q.w1 AND a.doc_id <> q.q_id
            JOIN pl b ON b.doc_id = a.doc_id AND b.tok = q.w2
            JOIN pl c ON c.doc_id = a.doc_id AND c.tok = q.w3),
      r AS (SELECT q_id AS query_id, doc_id, near_tf,
              CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                ORDER BY near_tf DESC, doc_id ASC) AS BIGINT) AS rnk
            FROM m WHERE near_tf > 0)
      SELECT query_id, rnk, doc_id, near_tf FROM r
      WHERE rnk <= 10 ORDER BY query_id, rnk""",

      // metadata-filtered BM25: t_bm25 with the query's OWN language
      // riding every join — per-language df, per-language (n_docs,
      // sum_dl), candidates restricted to the query's language; the
      // fold and every IEEE op order unchanged from t_bm25
      "v_bm25_filtered" -> s"""
      WITH btf AS (SELECT d.doc_id, tok, COUNT(*) AS tf FROM (
                SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
                FROM documents) d
              WHERE tok <> '' GROUP BY d.doc_id, tok),
      dm AS (SELECT doc_id, lang FROM documents),
      tfm AS (SELECT t.doc_id, t.tok, t.tf, d.lang
              FROM btf t JOIN dm d ON d.doc_id = t.doc_id),
      dfx AS (SELECT tok, lang, COUNT(*) AS df FROM tfm GROUP BY tok, lang),
      dln AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
              FROM btf GROUP BY doc_id),
      dlm AS (SELECT l.doc_id, l.dl, d.lang
              FROM dln l JOIN dm d ON d.doc_id = l.doc_id),
      st AS (SELECT lang, COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl
             FROM dlm GROUP BY lang),
      qt AS (SELECT t.doc_id AS q_id, t.tok, d.lang AS qlang
             FROM btf t JOIN dm d ON d.doc_id = t.doc_id WHERE t.doc_id < 3),
      c AS (SELECT q.q_id, t.doc_id, t.tok,
              ln((st.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)
                * (t.tf * (CAST(1.2 AS DOUBLE) + 1)) /
                (t.tf + 1.2 * (0.25 + 0.75 * l.dl
                  / (CAST(st.sum_dl AS DOUBLE) / st.n_docs))) AS c
            FROM tfm t
            JOIN qt q ON t.tok = q.tok AND t.lang = q.qlang
              AND t.doc_id <> q.q_id
            JOIN dfx f ON f.tok = t.tok AND f.lang = t.lang
            JOIN dln l ON l.doc_id = t.doc_id
            JOIN st ON st.lang = t.lang),
      s AS (SELECT q_id, doc_id,
              ROUND(list_reduce(list(c ORDER BY tok), (a, x) -> a + x), 6) AS score
            FROM c GROUP BY q_id, doc_id),
      r AS (SELECT q_id, doc_id, score,
              CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rnk
            FROM s)
      SELECT q_id AS query_id, rnk, doc_id, score FROM r
      WHERE rnk <= 5 ORDER BY query_id, rnk"""
    )
  }

  val round16: Map[String, String] = Map(
    // the fusion tuning curve: fused recall at every candidate α plus
    // the chosen-point rule, fully replayed — the artifact that shows
    // WHERE the preservation threshold sits (closes the r15 "α is a
    // compiled-in constant" residual together with the store sidecar)
    "v_hybrid_curve" -> clustered(hybridCurveSql),

    // the CLOSED drift loop: the streaming maintainer's own
    // policy-triggered retrain must land the store on EXACTLY the
    // state the manual remediation gate reaches — same oracle, same
    // hash (recall on the appended cohort restored by the store's own
    // search, not a simulation's)
    "s_retrain_auto" -> round14("v_ivf_retrain_store"),

    // additive-tier time travel: the pre-wave-2 snapshot ranking must
    // equal the one-shot anomaly ranking over the wave-1 events alone
    // (waves split by event_id parity; wave 1 = even)
    "q_snapshot_rate" -> {
      require(qAnomalySql.sliding("FROM events".length)
        .count(_ == "FROM events") == 1, "q_anomaly oracle shape changed")
      qAnomalySql.replace("FROM events",
        "FROM (SELECT * FROM events WHERE event_id % 2 = 0)")
    },

    // STREAMED-lexical time travel: searchBefore over the bid-sharded
    // store at the wave-2 versions must serve exactly the one-shot
    // BM25 over the wave-1 (even-doc) corpus — queries restricted to
    // even docs < 3 so the oracle's own query derivation (bqt from the
    // filtered corpus) matches the engine's
    "q_snapshot_sbm25" -> {
      val base = round12("t_bm25")
      require(base.sliding("FROM documents".length)
        .count(_ == "FROM documents") == 1, "t_bm25 oracle shape changed")
      base.replace("FROM documents",
        "FROM (SELECT * FROM documents WHERE doc_id % 2 = 0)")
    },

    // the drift monitor's consumer delta: the PSI flag (s_bm25_drift's
    // wave-2 pipeline) + the t_quality score of every flagged-wave doc
    // under its original AND remapped text, both replayed end to end —
    // the measured "store stays exact, consumers drift" claim
    "s_drift_consumer" -> {
      val en = graft.operators.TextAnalysis.stopwords("en")
        .map(w => s"'$w'").mkString(", ")
      def qcte(src: String): String = s"""
      (SELECT doc_id, n_chars_t,
              len(toks) AS n_toks,
              n_chars_t - length(regexp_replace($src, '[.,!?;:]', '', 'g')) AS punct,
              len(list_filter(toks, t -> t IN ($en))) AS stop_hits
       FROM (SELECT doc_id, $src, length($src) AS n_chars_t,
               list_filter(regexp_split_to_array(trim($src), '\\s+'),
                           t -> t <> '') AS toks
             FROM od) f0)"""
      s"""
      WITH w1 AS (SELECT text FROM documents WHERE doc_id % 2 = 0
                  ORDER BY doc_id LIMIT ${graft.streaming.EventStreams.LexDriftSample}),
      w2 AS (SELECT replace(replace(replace(replace(replace(
               text, 'a', '0'), 'e', '1'), 'i', '2'), 'o', '3'), 'u', '4') AS text
             FROM documents WHERE doc_id % 2 = 1
             ORDER BY doc_id LIMIT ${graft.streaming.EventStreams.LexDriftSample}),
      t1 AS (SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
               t -> t <> '')) AS tok FROM w1),
      t2 AS (SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
               t -> t <> '')) AS tok FROM w2),
      b1 AS (SELECT CAST(('0x' || substr(md5('bm25tb_' || tok), 1, 8)) AS BIGINT)
               % ${graft.sources.Bm25Store.Buckets} AS b FROM t1),
      b2 AS (SELECT CAST(('0x' || substr(md5('bm25tb_' || tok), 1, 8)) AS BIGINT)
               % ${graft.sources.Bm25Store.Buckets} AS b FROM t2),
      buckets AS (SELECT range AS b FROM range(${graft.sources.Bm25Store.Buckets})),
      n1 AS (SELECT COUNT(*) AS n FROM b1),
      n2 AS (SELECT COUNT(*) AS n FROM b2),
      h1 AS (SELECT bk.b,
               GREATEST(CAST(COALESCE(x.cnt, 0) AS DOUBLE) / n1.n,
                 CAST(0.001 AS DOUBLE)) AS p
             FROM buckets bk CROSS JOIN n1
             LEFT JOIN (SELECT b, COUNT(*) AS cnt FROM b1 GROUP BY b) x
               ON x.b = bk.b),
      h2 AS (SELECT bk.b,
               GREATEST(CAST(COALESCE(x.cnt, 0) AS DOUBLE) / n2.n,
                 CAST(0.001 AS DOUBLE)) AS q
             FROM buckets bk CROSS JOIN n2
             LEFT JOIN (SELECT b, COUNT(*) AS cnt FROM b2 GROUP BY b) x
               ON x.b = bk.b),
      ps AS (SELECT SUM((h2.q - h1.p) * LN(h2.q / h1.p)) AS psi
             FROM h1 JOIN h2 ON h2.b = h1.b),
      od AS (SELECT doc_id, text,
               replace(replace(replace(replace(replace(
                 text, 'a', '0'), 'e', '1'), 'i', '2'), 'o', '3'), 'u', '4')
                 AS dtext
             FROM documents WHERE doc_id % 2 = 1),
      go AS (SELECT doc_id,
               ROUND(LEAST(n_chars_t, 500) / 500.0 * 0.4
                 + (stop_hits / n_toks) * 0.4
                 + (1.0 - punct / n_chars_t) * 0.2, 6) AS q_orig
             FROM ${qcte("text")}),
      gd AS (SELECT doc_id,
               ROUND(LEAST(n_chars_t, 500) / 500.0 * 0.4
                 + (stop_hits / n_toks) * 0.4
                 + (1.0 - punct / n_chars_t) * 0.2, 6) AS q_drift
             FROM ${qcte("dtext")})
      SELECT od.doc_id, q_orig, q_drift,
        ROUND(q_drift - q_orig, 6) AS delta,
        (SELECT CAST(CASE WHEN ps.psi >
           ${graft.streaming.EventStreams.DriftPsiThreshold} THEN 1 ELSE 0 END
           AS BIGINT) FROM ps) AS drift_flagged
      FROM od JOIN go ON go.doc_id = od.doc_id
      JOIN gd ON gd.doc_id = od.doc_id
      ORDER BY od.doc_id"""
    }
  )

  /** vc_hybrid_weighted_recall's oracle: the persisted pair's legs on
    * the evaluation corpora (exact cosine over the clustered frame —
    * the flat store's serving contract — and Okapi BM25 over the
    * near-dup docs), the SIDECAR weight derivation replayed on the
    * same vector leg ([[tunedAlphaCte]] — exactly what the eval job
    * persisted), then BOTH fusion arithmetics — sidecar-convex and
    * plain RRF — each top-5'd and recalled against the exact top-5.
    */
  private def vcHybridWeightedRecallSql: String = s"""
      WITH $normsCte,
      vsim AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
                 ROUND(list_dot_product(q.v, x.v) / (q.nrm * x.nrm), 6) AS sim
               FROM n x CROSS JOIN (SELECT vec_id, v, nrm FROM n
                                    WHERE vec_id < 3) q
               WHERE x.vec_id <> q.vec_id),
      v10 AS (SELECT query_id, neighbor_id, sim, rnk FROM (
               SELECT query_id, neighbor_id, sim,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
               FROM vsim) t WHERE rnk <= 10),
      $ndDocsCte,
      btf AS (SELECT d.doc_id, tok, COUNT(*) AS tf FROM (
                SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
                FROM nddocs) d
              WHERE tok <> '' GROUP BY d.doc_id, tok),
      bdf AS (SELECT tok, COUNT(*) AS df FROM btf GROUP BY tok),
      bdl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM btf GROUP BY doc_id),
      bst AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM bdl),
      bqt AS (SELECT doc_id AS q_id, tok FROM btf WHERE doc_id < 3),
      bc AS (SELECT bq.q_id, t.doc_id, t.tok,
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                 * (t.tf * (CAST(1.2 AS DOUBLE) + 1)) /
                 (t.tf + 1.2 * (0.25 + 0.75 * dl
                   / (CAST(sum_dl AS DOUBLE) / n_docs))) AS c
             FROM btf t JOIN bqt bq ON t.tok = bq.tok AND t.doc_id <> bq.q_id
             JOIN bdf ON bdf.tok = t.tok
             JOIN bdl ON bdl.doc_id = t.doc_id
             CROSS JOIN bst),
      bs AS (SELECT q_id, doc_id,
               ROUND(list_reduce(list(c ORDER BY tok), (a, x) -> a + x), 6) AS score
             FROM bc GROUP BY q_id, doc_id),
      b10 AS (SELECT q_id, doc_id, score, rnk FROM (
                SELECT q_id, doc_id, score,
                  CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                    ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rnk
                FROM bs) t WHERE rnk <= 10),
      vn AS (SELECT query_id, neighbor_id, rnk,
               CASE WHEN mx = mn THEN 1.0 ELSE (sim - mn) / (mx - mn) END AS nv
             FROM (SELECT query_id, neighbor_id, rnk, sim,
                     MIN(sim) OVER (PARTITION BY query_id) AS mn,
                     MAX(sim) OVER (PARTITION BY query_id) AS mx
                   FROM v10) t),
      $tunedAlphaCte,
      lnn AS (SELECT q_id, doc_id, rnk,
               CASE WHEN mx = mn THEN 1.0 ELSE (score - mn) / (mx - mn) END AS nl
             FROM (SELECT q_id, doc_id, rnk, score,
                     MIN(score) OVER (PARTITION BY q_id) AS mn,
                     MAX(score) OVER (PARTITION BY q_id) AS mx
                   FROM b10) t),
      pr AS (SELECT COALESCE(v.query_id, l.q_id) AS query_id,
               COALESCE(v.neighbor_id, l.doc_id) AS doc_id,
               v.nv, l.nl, v.rnk AS vrnk, l.rnk AS lrnk
             FROM vn v FULL OUTER JOIN lnn l
               ON v.query_id = l.q_id AND v.neighbor_id = l.doc_id),
      ftop AS (SELECT query_id, doc_id FROM (
               SELECT query_id, doc_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY f DESC, doc_id ASC) AS rnk
               FROM (SELECT query_id, doc_id,
                       ROUND((SELECT alpha FROM agsel) * COALESCE(nv, 0.0)
                           + (1.0 - (SELECT alpha FROM agsel))
                             * COALESCE(nl, 0.0), 6) AS f
                     FROM pr) t0) t WHERE rnk <= 5),
      rtop AS (SELECT query_id, doc_id FROM (
               SELECT query_id, doc_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY f DESC, doc_id ASC) AS rnk
               FROM (SELECT query_id, doc_id,
                       ROUND(COALESCE(1.0 / (60 + vrnk), 0.0)
                           + COALESCE(1.0 / (60 + lrnk), 0.0), 6) AS f
                     FROM pr) t0) t WHERE rnk <= 5),
      hex5 AS (SELECT query_id, neighbor_id FROM v10 WHERE rnk <= 5),
      vtop AS (SELECT query_id, neighbor_id AS doc_id FROM v10 WHERE rnk <= 5),
      ltop AS (SELECT q_id AS query_id, doc_id FROM b10 WHERE rnk <= 5),
      rv AS (SELECT e.query_id, ROUND(COUNT(m.doc_id) / 5.0, 6) AS recall_vec
             FROM hex5 e LEFT JOIN vtop m
               ON m.query_id = e.query_id AND m.doc_id = e.neighbor_id
             GROUP BY e.query_id),
      rl AS (SELECT e.query_id, ROUND(COUNT(m.doc_id) / 5.0, 6) AS recall_lex
             FROM hex5 e LEFT JOIN ltop m
               ON m.query_id = e.query_id AND m.doc_id = e.neighbor_id
             GROUP BY e.query_id),
      rf AS (SELECT e.query_id, ROUND(COUNT(m.doc_id) / 5.0, 6) AS recall_fused
             FROM hex5 e LEFT JOIN ftop m
               ON m.query_id = e.query_id AND m.doc_id = e.neighbor_id
             GROUP BY e.query_id),
      rr AS (SELECT e.query_id, ROUND(COUNT(m.doc_id) / 5.0, 6) AS recall_rrf
             FROM hex5 e LEFT JOIN rtop m
               ON m.query_id = e.query_id AND m.doc_id = e.neighbor_id
             GROUP BY e.query_id)
      SELECT rv.query_id, ROUND((SELECT alpha FROM agsel), 6) AS alpha,
        recall_vec, recall_lex, recall_fused, recall_rrf
      FROM rv JOIN rl ON rl.query_id = rv.query_id
      JOIN rf ON rf.query_id = rv.query_id
      JOIN rr ON rr.query_id = rv.query_id
      ORDER BY rv.query_id"""

  val round17: Map[String, String] = Map(
    // the sidecar weight measured where RRF fails: persisted pair on
    // the evaluation corpora, tuned-α vs plain-RRF fusion, both
    // replayed (the clustered() wrapper re-sources the embeddings CTE)
    "vc_hybrid_weighted_recall" -> clustered(vcHybridWeightedRecallSql),

    // the CLOSED lexical drift loop: three doc-disjoint waves, PSI
    // replayed with the BASELINE SWITCH the autonomous rebase causes —
    // wave 1 vs wave 0's histogram (trips, policy acts), wave 2 vs
    // wave 1's REBASED histogram (quiet); the trip rule and the
    // cooldown's guaranteed-skip at bid 2 fold into the rebased column
    "s_bm25_drift_auto" -> s"""
      WITH w1 AS (SELECT text FROM documents WHERE doc_id % 3 = 0
                  ORDER BY doc_id LIMIT ${graft.streaming.EventStreams.LexDriftSample}),
      w2 AS (SELECT replace(replace(replace(replace(replace(
               text, 'a', '0'), 'e', '1'), 'i', '2'), 'o', '3'), 'u', '4') AS text
             FROM documents WHERE doc_id % 3 = 1
             ORDER BY doc_id LIMIT ${graft.streaming.EventStreams.LexDriftSample}),
      w3 AS (SELECT replace(replace(replace(replace(replace(
               text, 'a', '0'), 'e', '1'), 'i', '2'), 'o', '3'), 'u', '4') AS text
             FROM documents WHERE doc_id % 3 = 2
             ORDER BY doc_id LIMIT ${graft.streaming.EventStreams.LexDriftSample}),
      t1 AS (SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
               t -> t <> '')) AS tok FROM w1),
      t2 AS (SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
               t -> t <> '')) AS tok FROM w2),
      t3 AS (SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
               t -> t <> '')) AS tok FROM w3),
      b1 AS (SELECT CAST(('0x' || substr(md5('bm25tb_' || tok), 1, 8)) AS BIGINT)
               % ${graft.sources.Bm25Store.Buckets} AS b FROM t1),
      b2 AS (SELECT CAST(('0x' || substr(md5('bm25tb_' || tok), 1, 8)) AS BIGINT)
               % ${graft.sources.Bm25Store.Buckets} AS b FROM t2),
      b3 AS (SELECT CAST(('0x' || substr(md5('bm25tb_' || tok), 1, 8)) AS BIGINT)
               % ${graft.sources.Bm25Store.Buckets} AS b FROM t3),
      buckets AS (SELECT range AS b FROM range(${graft.sources.Bm25Store.Buckets})),
      n1 AS (SELECT COUNT(*) AS n FROM b1),
      n2 AS (SELECT COUNT(*) AS n FROM b2),
      n3 AS (SELECT COUNT(*) AS n FROM b3),
      s1 AS (SELECT bk.b, CAST(COALESCE(x.cnt, 0) AS DOUBLE) / n1.n AS sh
             FROM buckets bk CROSS JOIN n1
             LEFT JOIN (SELECT b, COUNT(*) AS cnt FROM b1 GROUP BY b) x
               ON x.b = bk.b),
      s2 AS (SELECT bk.b, CAST(COALESCE(x.cnt, 0) AS DOUBLE) / n2.n AS sh
             FROM buckets bk CROSS JOIN n2
             LEFT JOIN (SELECT b, COUNT(*) AS cnt FROM b2 GROUP BY b) x
               ON x.b = bk.b),
      s3 AS (SELECT bk.b, CAST(COALESCE(x.cnt, 0) AS DOUBLE) / n3.n AS sh
             FROM buckets bk CROSS JOIN n3
             LEFT JOIN (SELECT b, COUNT(*) AS cnt FROM b3 GROUP BY b) x
               ON x.b = bk.b),
      ps2 AS (SELECT SUM((GREATEST(s2.sh, CAST(0.001 AS DOUBLE))
                          - GREATEST(s1.sh, CAST(0.001 AS DOUBLE)))
                * LN(GREATEST(s2.sh, CAST(0.001 AS DOUBLE))
                     / GREATEST(s1.sh, CAST(0.001 AS DOUBLE)))) AS psi
              FROM s1 JOIN s2 ON s2.b = s1.b),
      ps3 AS (SELECT SUM((GREATEST(s3.sh, CAST(0.001 AS DOUBLE))
                          - GREATEST(s2.sh, CAST(0.001 AS DOUBLE)))
                * LN(GREATEST(s3.sh, CAST(0.001 AS DOUBLE))
                     / GREATEST(s2.sh, CAST(0.001 AS DOUBLE)))) AS psi
              FROM s2 JOIN s3 ON s3.b = s2.b)
      SELECT CAST(0 AS BIGINT) AS bid, n1.n AS n_sampled,
        CAST(0.0 AS DOUBLE) AS psi, CAST(0 AS BIGINT) AS drift_flagged,
        CAST(0 AS BIGINT) AS rebased
      FROM n1
      UNION ALL
      SELECT CAST(1 AS BIGINT), n2.n, ROUND(ps2.psi, 6),
        CAST(CASE WHEN ps2.psi >
          ${graft.streaming.EventStreams.DriftPsiThreshold} THEN 1 ELSE 0 END
          AS BIGINT),
        CAST(CASE WHEN ps2.psi >
          ${graft.streaming.EventStreams.DriftPsiThreshold} THEN 1 ELSE 0 END
          AS BIGINT)
      FROM n2 CROSS JOIN ps2
      UNION ALL
      SELECT CAST(2 AS BIGINT), n3.n, ROUND(ps3.psi, 6),
        CAST(CASE WHEN ps3.psi >
          ${graft.streaming.EventStreams.DriftPsiThreshold} THEN 1 ELSE 0 END
          AS BIGINT),
        CAST(0 AS BIGINT)
      FROM n3 CROSS JOIN ps3
      ORDER BY bid"""
  )

  def all: Map[String, String] =
    relational ++ vector ++ dedup ++ text ++ multimodal ++ streaming ++
      round2 ++ round3 ++ round6 ++ round8 ++ round9 ++ round10 ++ round11 ++
      round12 ++ round13 ++ round14 ++ round16 ++ round17
}
