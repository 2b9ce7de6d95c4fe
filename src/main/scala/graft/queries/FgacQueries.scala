package graft
package queries

import org.apache.spark.sql.functions._
import graft.operators.SttmOps
import QuerySupport._

/** FGAC joins and quarantine: masked enrichment, the bidirectional
  * quarantine, UNION ALL arms and ordered join chains. */
private[graft] object FgacQueries extends QueryLayer("fgac") {
  lazy val defs: Seq[QueryDef] = Seq(

    // J5+P8 — FGAC enrichment: XREF LEFT JOIN dimension + PII masking CASE.
    // Customer side is dimension-sized -> broadcast-able at any scale.
    query("q_fgac_enrich")(
      """WITH x AS (SELECT * FROM (SELECT *, row_number() OVER
                 (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
               FROM events) WHERE rn = 1)
         SELECT x.user_id, x.event_id,
           CASE WHEN c.c_acctbal >= 0 THEN c.c_name ELSE '***' END AS c_name_masked,
           c.c_mktsegment, x.value
         FROM x LEFT JOIN customer c ON x.user_id = c.c_custkey
         ORDER BY x.user_id""")((s, dir) => {
      val x = xrefLatest(Tables.events(s, dir)
        .select("user_id", "event_id", "value", "ts"))
      val c = broadcast(Tables.customer(s, dir))
      x.join(c, x("user_id") === c("c_custkey"), "left")
        .select(
          col("user_id"), col("event_id"),
          SttmOps.maskUnless(col("c_acctbal") >= 0, col("c_name")).as("c_name_masked"),
          col("c_mktsegment"), col("value"))
        .orderBy("user_id")
    }),

    // J4+F5 — bidirectional quarantine: keys on one side only, tagged with a
    // reason literal, UNION ALL (final-output.sql:131-144).
    query("q_quarantine_bidir")(
      """SELECT * FROM (
           SELECT CAST(e.user_id AS BIGINT) AS key, 'customer: none' AS reason
           FROM (SELECT DISTINCT user_id FROM events) e
           WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)
           UNION ALL
           SELECT CAST(c.c_custkey AS BIGINT) AS key, 'events: none' AS reason
           FROM customer c
           WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey))
         ORDER BY reason, key""")((s, dir) => {
      val evKeys = Tables.events(s, dir).select(col("user_id")).distinct()
      SttmOps.quarantineBidirectional(
        evKeys, "user_id", "customer: none",
        Tables.customer(s, dir), "c_custkey", "events: none")
        .orderBy("reason", "key")
    }),

    // O1+F4 — UNION ALL arms of one target, each arm = (filter, projection).
    query("q_union_arms")(
      """SELECT * FROM (
           SELECT event_id, user_id, 'purchase_big' AS arm, value
           FROM events WHERE event_type = 'purchase' AND value > 100
           UNION ALL
           SELECT event_id, user_id, 'signup' AS arm, value
           FROM events WHERE event_type = 'signup')
         ORDER BY event_id""")((s, dir) => {
      val ev = Tables.events(s, dir)
      val arm1 = ev.filter(col("event_type") === "purchase" && col("value") > 100)
        .select(col("event_id"), col("user_id"), lit("purchase_big").as("arm"), col("value"))
      val arm2 = ev.filter(col("event_type") === "signup")
        .select(col("event_id"), col("user_id"), lit("signup").as("arm"), col("value"))
      arm1.unionByName(arm2).orderBy("event_id")
    }),

    // J2 — ordered multi-join chain (driving table -> fact -> detail).
    query("q_multi_join_chain")(
      """SELECT o_orderkey, l_linenumber, c_custkey, c_mktsegment, o_orderstatus,
           l_extendedprice * (1.0 - l_discount) AS revenue
         FROM customer
         JOIN orders   ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE c_mktsegment = 'BUILDING' AND o_orderstatus = 'F'
         ORDER BY o_orderkey, l_linenumber, revenue""")((s, dir) => {
      val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
      val l = Tables.lineitem(s, dir)
      broadcast(c).join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .select(col("o_orderkey"), col("l_linenumber"), col("c_custkey"),
          col("c_mktsegment"), col("o_orderstatus"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        // (l_orderkey, l_linenumber) is NOT unique in the generated lineitem;
        // revenue disambiguates (remaining cols are functions of o_orderkey).
        .orderBy("o_orderkey", "l_linenumber", "revenue")
    })
  )
}
