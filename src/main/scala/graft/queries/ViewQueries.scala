package graft
package queries

import org.apache.spark.sql.functions._
import QuerySupport._

/** Source parsing: typed JSON/CSV views, the Flink scalar-function
  * surface, the dead-letter split, field masking and the nested-JSON
  * flattener. */
private[graft] object ViewQueries extends QueryLayer("views") {
  lazy val defs: Seq[QueryDef] = Seq(

    // P1+P3+F1+P10 — typed JSON view: demux filter on the discriminator column,
    // JSON_VALUE-equivalent extraction, trim/cast normalization.
    // (final-output.sql:3-11; sttm_to_flink_v22.py:121-147)
    query("q_view_parse_json")(
      """SELECT event_id, user_id,
         CAST(json_extract_string(props, '$.k') AS INT) AS k,
         trim(event_type) AS event_type, value
         FROM events WHERE event_type = 'purchase' ORDER BY event_id""")((s, dir) => {
      Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(
          col("event_id"),
          col("user_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"),
          trim(col("event_type")).cast("string").as("event_type"),
          col("value"))
        .orderBy("event_id")
    }),

    // P2 — CSV positional extraction (SPLIT_INDEX): payload synthesized from
    // typed cols so the oracle sees identical strings (decimal(10,2) to pin
    // double formatting). (history-queries.sql:4-44; v22:137-142)
    query("q_view_parse_csv")(
      """WITH p AS (SELECT event_id,
           concat_ws('|', CAST(event_id AS VARCHAR), event_type,
                     CAST(CAST(value AS DECIMAL(10,2)) AS VARCHAR)) AS payload
         FROM events)
         SELECT event_id,
           split_part(payload, '|', 1) AS f0,
           split_part(payload, '|', 2) AS f1,
           split_part(payload, '|', 3) AS f2,
           CAST(split_part(payload, '|', 1) AS BIGINT) AS f0_id
         FROM p ORDER BY event_id""")((s, dir) => {
      Tables.events(s, dir)
        .withColumn("payload",
          concat_ws("|",
            col("event_id").cast("string"),
            col("event_type"),
            col("value").cast("decimal(10,2)").cast("string")))
        .select(
          col("event_id"),
          split(col("payload"), "\\|").getItem(0).as("f0"),
          split(col("payload"), "\\|").getItem(1).as("f1"),
          split(col("payload"), "\\|").getItem(2).as("f2"),
          split(col("payload"), "\\|").getItem(0).cast("bigint").as("f0_id"))
        .orderBy("event_id")
    }),

    // P1 at production width (VERDICT r9 #2): a 32-mapped-column JSON view —
    // the reference's wide-STTM shape (scripts/sttm_to_flink_v22.py:218-228
    // emits one JSON_VALUE re-parse per mapped column; real STTM workbooks
    // carry dozens). FuseJsonAccess collapses the 33 accesses (32 typed
    // fields + the NULLIF(TRIM(..)) hoisted-common-expr column, the shape
    // that crashed pre-r10) into ONE from_json parse. Payload is synthesized
    // by string concat so the oracle sees identical bytes; NULL event_type
    // nulls the whole payload in both engines (the NULL-payload path).
    query("q_view_parse_wide")(
      s"""WITH p AS (SELECT event_id, $widePayloadSql AS payload FROM events)
         SELECT event_id,
           nullif(trim(json_extract_string(payload, '$$.typ')), '') AS typ,
           ${(0 until 32).map(i =>
             s"CAST(json_extract_string(payload, '$$.f$i') AS BIGINT) AS f$i")
             .mkString(", ")}
         FROM p ORDER BY event_id""")((s, dir) => {
      graft.plans.FuseJsonAccess.install(s)
      Tables.events(s, dir)
        .withColumn("payload", widePayload)
        .select(
          col("event_id") +:
          nullif(trim(get_json_object(col("payload"), "$.typ")), lit(""))
            .as("typ") +:
          (0 until 32).map(i =>
            get_json_object(col("payload"), s"$$.f$i")
              .cast("bigint").as(s"f$i")): _*)
        .orderBy("event_id")
    }),

    // P5+P6 — multi-format date/timestamp parsing CASE (final-output.sql:87-102):
    // mixed yyyyMMdd / yyyy-MM-dd strings, plus 10-digit epoch seconds.
    query("q_date_multiformat")(
      """WITH r AS (SELECT o_orderkey,
           CASE WHEN o_orderkey % 2 = 0 THEN strftime(o_orderdate, '%Y%m%d')
                ELSE strftime(o_orderdate, '%Y-%m-%d') END AS raw,
           CAST(CAST(epoch(o_orderdate) AS BIGINT) AS VARCHAR) AS es
         FROM orders)
         SELECT o_orderkey,
           CASE WHEN length(raw) = 8 AND regexp_matches(raw, '^\d{8}$')
                  THEN CAST(CAST(strptime(raw, '%Y%m%d') AS DATE) AS VARCHAR)
                WHEN regexp_matches(raw, '^\d{4}-\d{2}-\d{2}$')
                  THEN CAST(CAST(strptime(raw, '%Y-%m-%d') AS DATE) AS VARCHAR)
                ELSE NULL END AS d_parsed,
           CASE WHEN regexp_matches(es, '^\d{10}$')
                  THEN CAST(es AS BIGINT) * 1000000
                ELSE NULL END AS ts_us
         FROM r ORDER BY o_orderkey""")((s, dir) => {
      val o = Tables.orders(s, dir)
        .withColumn("raw",
          when(col("o_orderkey") % 2 === 0, date_format(col("o_orderdate"), "yyyyMMdd"))
            .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd")))
        // o_orderdate is parquet TIMESTAMP(MILLIS, ntz) -> TIMESTAMP_NTZ;
        // unix_seconds wants LTZ, so cast (session tz pinned UTC).
        .withColumn("es", unix_seconds(col("o_orderdate").cast("timestamp")).cast("string"))
      o.select(
          col("o_orderkey"),
          when(length(col("raw")) === 8 && col("raw").rlike("^\\d{8}$"),
            to_date(col("raw"), "yyyyMMdd"))
            .when(col("raw").rlike("^\\d{4}-\\d{2}-\\d{2}$"),
              to_date(col("raw"), "yyyy-MM-dd"))
            .otherwise(lit(null).cast("date")).cast("string").as("d_parsed"),
          unix_micros(
            when(col("es").rlike("^\\d{10}$"),
              timestamp_seconds(col("es").cast("bigint")))).as("ts_us"))
        .orderBy("o_orderkey")
    }),

    // Training-data ops ---------------------------------------------------,

    // S5 — dead-letter split: malformed payloads routed to a quarantine
    // side output instead of aborting (errors.tolerance=all semantics).
    query("q_dlq_parse")(
      """SELECT event_id, '{not-json' AS raw, 'MALFORMED_PAYLOAD' AS error_reason
         FROM events WHERE event_id % 10 = 0 ORDER BY event_id""")((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("payload",
          when(col("event_id") % 10 === 0, lit("{not-json"))
            .otherwise(col("props")))
      val split = graft.operators.DeadLetter.split(
        ev, "payload", org.apache.spark.sql.types.StructType.fromDDL("k INT"))
      split.dead
        .select(col("event_id"), col("payload").as("raw"), col("error_reason"))
        .orderBy("event_id")
    }),

    // S4 — MaskField SMT as a pre-sink projection rewrite.
    query("q_mask_fields")(
      """SELECT c_custkey, '***' AS c_name, c_mktsegment
         FROM customer ORDER BY c_custkey""")((s, dir) => {
      graft.operators.DeadLetter.maskFields(
          Tables.customer(s, dir), Seq("c_name", "c_phone_does_not_exist"))
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy("c_custkey")
    }),

    // U2 — nested-JSON flattener: documents synthesized from orders+lineitem
    // round-trip through to_json -> flatten, so the oracle is the plain
    // relational join (inherited parent scalars + exploded child rows).
    query("q_flatten")(
      """SELECT o_orderkey AS o, o_custkey AS cust,
           l_linenumber AS lines_ln, l_quantity AS lines_qty,
           CAST(row_number() OVER (PARTITION BY l_orderkey
             ORDER BY l_linenumber, l_quantity) - 1 AS INT) AS _elem_index
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         ORDER BY o, _elem_index""")((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val nested = li.groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(struct(
          col("l_linenumber").as("ln"), col("l_quantity").as("qty")))).as("lines"))
      val docs = o.join(nested, o("o_orderkey") === nested("l_orderkey"))
        .select(to_json(struct(
          col("o_orderkey").as("o"), col("o_custkey").as("cust"), col("lines"))).as("doc"))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "o BIGINT, cust BIGINT, lines ARRAY<STRUCT<ln: INT, qty: DOUBLE>>")
      graft.flatten.JsonFlattener.flatten(docs, "doc", schema)("lines")
        .select(col("o"), col("cust"), col("lines_ln"), col("lines_qty"), col("_elem_index"))
        .orderBy("o", "_elem_index")
    }),

    // U1/P7 — the Flink-name scalar function surface executed as SQL text
    // through FlinkCompat (JSON_VALUE, SPLIT_INDEX, IS_DECIMAL, REGEXP,
    // TO_TIMESTAMP_LTZ in epoch-seconds, epoch-millis, and format flavors).
    query("q_flink_fns")(
      """WITH src AS (SELECT o_orderkey,
           '{"a": "' || o_orderpriority || '"}' AS j,
           concat_ws('-', 'A', o_orderstatus, CAST(o_orderkey AS VARCHAR)) AS sv,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) AS num,
           o_orderpriority AS bad,
           CAST(epoch(o_orderdate) AS BIGINT) AS ess,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS fs
         FROM orders)
         SELECT o_orderkey,
           json_extract_string(j, '$.a') AS ja,
           split_part(sv, '-', 2) AS s1,
           CAST(NULL AS VARCHAR) AS s_oob,
           TRY_CAST(num AS DECIMAL(38,18)) IS NOT NULL AS is_num,
           TRY_CAST(bad AS DECIMAL(38,18)) IS NOT NULL AS is_bad,
           regexp_matches(sv, '^A-') AS rx,
           ess * 1000000 AS ts0,
           ess * 1000 * 1000 AS ts3,
           epoch_us(strptime(fs, '%Y-%m-%d %H:%M:%S')) AS tsf
         FROM src ORDER BY o_orderkey""")((s, dir) => {
      graft.functions.FlinkCompat.register(s)
      Tables.orders(s, dir).select(
        col("o_orderkey"),
        concat(lit("{\"a\": \""), col("o_orderpriority"), lit("\"}")).as("j"),
        concat_ws("-", lit("A"), col("o_orderstatus"), col("o_orderkey")).as("sv"),
        col("o_totalprice").cast("decimal(12,2)").cast("string").as("num"),
        col("o_orderpriority").as("bad"),
        unix_seconds(col("o_orderdate").cast("timestamp")).cast("string").as("es"),
        (unix_seconds(col("o_orderdate").cast("timestamp")) * 1000).as("ems"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("fs"))
        .createOrReplaceTempView("flink_fn_src")
      s.sql("""
        SELECT o_orderkey,
          JSON_VALUE(j, '$.a') AS ja,
          SPLIT_INDEX(sv, '-', 1) AS s1,
          SPLIT_INDEX(sv, '-', 9) AS s_oob,
          IS_DECIMAL(num) AS is_num,
          IS_DECIMAL(bad) AS is_bad,
          REGEXP(sv, '^A-') AS rx,
          unix_micros(TO_TIMESTAMP_LTZ(CAST(es AS BIGINT), 0)) AS ts0,
          unix_micros(TO_TIMESTAMP_LTZ(ems, 3)) AS ts3,
          unix_micros(TO_TIMESTAMP_LTZ(fs, 'yyyy-MM-dd HH:mm:ss')) AS tsf
        FROM flink_fn_src ORDER BY o_orderkey""")
    })
  )
}
