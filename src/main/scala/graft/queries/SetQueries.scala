package graft
package queries

import org.apache.spark.sql.functions._

import graft.ops.Cohort

import Oracle.Sql
import Shared._

/** u-family: distinct, unions, semi/anti joins and set operations. */
object SetQueries extends Family("u") {

  val queries: Seq[Query] = Seq(
    // ---- §2.4 U4: distinct ----------------------------------------------
    Query("u4_distinct", (s, dir) => {
      t(s, dir, "orders").select(col("o_orderstatus"), col("o_orderpriority"))
        .distinct()
        .orderBy(col("o_orderstatus"), col("o_orderpriority"))
    },
      Sql("""SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
         ORDER BY o_orderstatus, o_orderpriority""")),

    // ---- §2.4 U2: n-ary tagged union ------------------------------------
    Query("u2_union_tagged", (s, dir) => {
      Cohort.unionAll(
        Seq(
          t(s, dir, "region").select(col("r_name").as("name")),
          t(s, dir, "nation").select(col("n_name").as("name")),
          t(s, dir, "customer").select(col("c_mktsegment").as("name")).distinct()),
        Some("src"), Seq("region", "nation", "segment"))
        .orderBy(col("src"), col("name"))
    },
      Sql("""SELECT * FROM (
           SELECT r_name AS name, 'region' AS src FROM region
           UNION ALL SELECT n_name, 'nation' FROM nation
           UNION ALL SELECT DISTINCT c_mktsegment, 'segment' FROM customer)
         ORDER BY src, name""")),

    // ---- §2.3 semi / anti joins: suppliers with(out) lineitems ----------
    Query("u6_semi_anti", (s, dir) => {
      val su = t(s, dir, "supplier").select(col("s_suppkey"))
      val li = t(s, dir, "lineitem").select(col("l_suppkey"))
      val withLi = su.join(li, su("s_suppkey") === li("l_suppkey"), "left_semi")
        .withColumn("relation", lit("has_lineitems"))
      val withoutLi = su.join(li, su("s_suppkey") === li("l_suppkey"), "left_anti")
        .withColumn("relation", lit("no_lineitems"))
      withLi.unionByName(withoutLi).orderBy(col("relation"), col("s_suppkey"))
    },
      Sql("""SELECT s_suppkey, 'has_lineitems' AS relation FROM supplier
         WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem)
         UNION ALL
         SELECT s_suppkey, 'no_lineitems' AS relation FROM supplier
         WHERE s_suppkey NOT IN (SELECT l_suppkey FROM lineitem)
         ORDER BY relation, s_suppkey""")),

    // ---- §2.4 set ops: INTERSECT / EXCEPT -------------------------------
    Query("u5_intersect_except", (s, dir) => {
      val custNations = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val suppNations = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      val both = custNations.intersect(suppNations).withColumn("relation", lit("both"))
      val custOnly = custNations.except(suppNations).withColumn("relation", lit("cust_only"))
      both.unionByName(custOnly).orderBy(col("relation"), col("nationkey"))
    },
      Sql("""SELECT nationkey, 'both' AS relation
         FROM (SELECT c_nationkey AS nationkey FROM customer
               INTERSECT SELECT s_nationkey FROM supplier)
         UNION ALL
         SELECT nationkey, 'cust_only' AS relation
         FROM (SELECT c_nationkey AS nationkey FROM customer
               EXCEPT SELECT s_nationkey FROM supplier)
         ORDER BY relation, nationkey""")),

    // ---- set ops: MULTISET intersect/except (u7) — the ALL variants u5's
    // distinct semantics miss: multiplicities min() under INTERSECT ALL
    // and subtract under EXCEPT ALL; aggregated per key so the result is
    // compact and the duplicate accounting is visible. --------------------
    Query("u7_multiset_ops", (s, dir) => {
      val cust = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val supp = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      val ia = cust.intersectAll(supp).groupBy(col("nationkey"))
        .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
      val ea = cust.exceptAll(supp).groupBy(col("nationkey"))
        .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
      ia.unionByName(ea).select(col("op"), col("nationkey"), col("n"))
        .orderBy(col("op"), col("nationkey"))
    },
      // u7: the identical ALL-variant multiset semantics
      Sql("""WITH cust AS (SELECT c_nationkey AS nationkey FROM customer),
         supp AS (SELECT s_nationkey AS nationkey FROM supplier),
         ia AS (SELECT 'intersect_all' AS op, nationkey,
                  CAST(count(*) AS BIGINT) AS n
                FROM (SELECT nationkey FROM cust
                      INTERSECT ALL SELECT nationkey FROM supp)
                GROUP BY 2),
         ea AS (SELECT 'except_all' AS op, nationkey,
                  CAST(count(*) AS BIGINT) AS n
                FROM (SELECT nationkey FROM cust
                      EXCEPT ALL SELECT nationkey FROM supp)
                GROUP BY 2)
         SELECT op, nationkey, n FROM ia
         UNION ALL SELECT op, nationkey, n FROM ea
         ORDER BY op, nationkey"""))
  )
}
