package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import QuerySupport._

/** Compiled pipelines: STTM workbooks (`q_sttm_*`) and column specs
  * (`q_colspec_*`) compiled and run as batch plans. */
private[graft] object CompiledQueries extends QueryLayer("compiled") {
  lazy val defs: Seq[QueryDef] = Seq(

    // Full 3-stage pipeline, XREF snapshot output (ts exported as micros).
    query("q_sttm_xref")(sttmXrefSql)((s, dir) => {
      val out = sttmRun(s, dir)
      out("XREF_USER")
        .select(col("USER_ID"), col("EVENT_ID"),
          unix_micros(col("TS")).as("TS_US"), col("K"), col("VALUE"))
        .orderBy("USER_ID")
    }),

    // Full 3-stage pipeline, FGAC masked-enrichment output.
    query("q_sttm_fgac")(sttmFgacSql)((s, dir) => {
      sttmRun(s, dir)("FGAC_USER_REF").orderBy("USER_ID")
    }),

    // Full 3-stage pipeline, quarantine arm output.
    query("q_sttm_quarantine")(
      s"""WITH $sttmOracleCte
         SELECT x.USER_ID, 'customer: none or not entitled' AS REASON
         FROM xref x LEFT JOIN cu c
           ON x.USER_ID = c.C_CUSTKEY AND c.C_ACCTBAL >= 0
         WHERE c.C_CUSTKEY IS NULL
         ORDER BY x.USER_ID""")((s, dir) => {
      sttmRun(s, dir)("QUAR_USER").orderBy("USER_ID")
    }),

    // v21 prefix/suffix config: same 3-stage pipeline compiled with
    // view_prefix=V_ / table_suffix=_T — emitted names decorated, matrix
    // ${table_name} macros expand to the decorated names, results identical
    // to the undecorated run (names are metadata, not semantics).
    query("q_sttm_prefixed")(sttmFgacSql)((s, dir) => {
      sttmRun(s, dir, compile.DemoSpecs.prefixedJsonPipeline)("FGAC_USER_REF_T")
        .orderBy("USER_ID")
    }),

    // F6 through the compiler: delete-flag exclusion before the upsert
    // ranking, driven entirely by matrix metadata (graft.delete.flag).
    query("q_sttm_delete_flag")(
      """SELECT USER_ID, EVENT_ID, EVENT_TYPE
         FROM (SELECT CAST(user_id AS BIGINT) AS USER_ID,
                      CAST(event_id AS BIGINT) AS EVENT_ID,
                      trim(event_type) AS EVENT_TYPE, ts,
                      row_number() OVER (PARTITION BY user_id
                        ORDER BY ts DESC, event_id DESC) AS rn
               FROM events WHERE event_type IS NULL OR event_type NOT IN ('error'))
         WHERE rn = 1 ORDER BY USER_ID""")((s, dir) => {
      Tables.events(s, dir).createOrReplaceTempView("events")
      val p = compile.PipelineCompiler.compile(
        compile.DemoSpecs.deleteFlagPipeline, compile.DemoSpecs.jsonOptions)
      p.run(s)("XREF_USER_DF")
        .select(col("USER_ID"), col("EVENT_ID"), col("EVENT_TYPE"))
        .orderBy("USER_ID")
    }),

    // Production-width COMPILED view (VERDICT r10 #5): the same 32-field
    // synthesized payload as q_view_parse_wide, but driven through the
    // actual spec->compile->SQL->Catalyst path (PipelineCompiler over the
    // DemoSpecs.wideJsonPipeline workbook fixture), so the oracle locks the
    // COMPILED wide shape — the one whose hoisted-common-expr fusion
    // crashed pre-r10 — not a hand-built equivalent. ViewFusionSpec
    // asserts the compiled plan carries exactly one JsonToStructs.
    query("q_sttm_wide")(
      // compiled wide view: the compiler's STRING columns are TRIM-only (no
      // NULLIF — ExprCompiler.chooseExpr norm rule), numerics NULLIF+TRIM;
      // EVENT_ID is an ExprOverride passthrough CAST
      s"""WITH p AS (SELECT event_id, $widePayloadSql AS payload FROM events)
         SELECT CAST(event_id AS BIGINT) AS EVENT_ID,
           trim(json_extract_string(payload, '$$.typ')) AS TYP,
           ${(0 until 32).map(i =>
             s"CAST(nullif(trim(json_extract_string(payload, '$$.f$i')), '') AS BIGINT) AS F$i")
             .mkString(", ")}
         FROM p ORDER BY event_id""")((s, dir) => {
      graft.plans.FuseJsonAccess.install(s)
      Tables.events(s, dir)
        .select(col("event_id"), widePayload.as("payload"))
        .createOrReplaceTempView("events_wide")
      val p = compile.PipelineCompiler.compile(
        compile.DemoSpecs.wideJsonPipeline, compile.DemoSpecs.wideOptions)
      require(p.errors.isEmpty, s"spec validation errors: ${p.errors}")
      p.run(s)("WIDE_VW").orderBy("EVENT_ID")
    }),

    // CSV view through the compiler (SPLIT_INDEX + auto index assignment).
    query("q_sttm_csv_view")(
      """WITH p AS (SELECT concat_ws('|', CAST(event_id AS VARCHAR), event_type,
                     CAST(CAST(value AS DECIMAL(10,2)) AS VARCHAR)) AS val
                   FROM events)
         SELECT
           CAST(nullif(trim(split_part(val, '|', 1)), '') AS BIGINT) AS F_ID,
           CAST(trim(split_part(val, '|', 2)) AS VARCHAR) AS F_TYPE,
           CAST(trim(split_part(val, '|', 3)) AS VARCHAR) AS F_VAL,
           CAST(val AS VARCHAR) AS RAW
         FROM p ORDER BY F_ID""")((s, dir) => {
      Tables.events(s, dir)
        .select(concat_ws("|",
          col("event_id").cast("string"),
          col("event_type"),
          col("value").cast("decimal(10,2)").cast("string")).as("val"))
        .createOrReplaceTempView("events_csv")
      val p = compile.PipelineCompiler.compile(
        compile.DemoSpecs.csvPipeline, compile.DemoSpecs.csvOptions)
      p.run(s)("CSV_VW").orderBy("F_ID")
    }),

    // v4.5 column-spec compiler: multi-entity topic demux -> per-source views
    // -> multi-view ordered join chain (J2).
    query("q_colspec_enriched")(
      """WITH evt AS (
           SELECT CAST(event_id AS VARCHAR) AS event_id,
                  CAST(user_id AS VARCHAR) AS user_id, event_type,
                  CAST(CAST(value AS DECIMAL(10,2)) AS VARCHAR) AS amt
           FROM events),
         cust AS (
           SELECT CAST(c_custkey AS VARCHAR) AS c_custkey, c_name FROM customer)
         SELECT e.event_id AS EVENT_ID, e.user_id AS USER_ID, e.amt AS AMT,
                c.c_custkey AS CKEY, c.c_name AS CNAME
         FROM evt e LEFT JOIN cust c ON c.c_custkey = e.user_id
         ORDER BY CAST(e.event_id AS BIGINT)""")((s, dir) => {
      registerTopic(s, dir)
      colspecRun(s)("FACT_ENRICHED").orderBy(col("EVENT_ID").cast("long"))
    }),

    // v4.5 UNION-ALL arms per (filter, join) pair with shared column list (O1).
    query("q_colspec_arms")(
      """WITH evt AS (
           SELECT CAST(event_id AS VARCHAR) AS event_id, event_type FROM events)
         SELECT * FROM (
           SELECT event_id AS ID, 'pur' AS KIND FROM evt
           WHERE event_type = 'purchase'
           UNION ALL
           SELECT event_id AS ID, 'sig' AS KIND FROM evt
           WHERE event_type = 'signup')
         ORDER BY CAST(ID AS BIGINT), KIND""")((s, dir) => {
      registerTopic(s, dir)
      colspecRun(s)("FACT_ARMS").orderBy(col("ID").cast("long"), col("KIND"))
    })
  )

  /** Register raw tables and execute a bundled JSON STTM pipeline (by
    * default the demo one: view -> xref upsert -> fgac/quarantine) on `dir`. */
  private def sttmRun(s: SparkSession, dir: String,
      pipeline: graft.spec.SttmSpec = compile.DemoSpecs.jsonPipeline): Map[String, DataFrame] = {
    Tables.events(s, dir).createOrReplaceTempView("events")
    Tables.customer(s, dir).createOrReplaceTempView("customer")
    val p = compile.PipelineCompiler.compile(pipeline, compile.DemoSpecs.jsonOptions)
    require(p.errors.isEmpty, s"spec validation errors: ${p.errors}")
    p.run(s)
  }

  /** Synthesize the single multi-entity topic the v4.5 UI generator assumes:
    * events and customers multiplexed into one JSON payload column `val`
    * with a `$.tbl` discriminator (final-output.sql:9-11 shape). */
  private def registerTopic(s: SparkSession, dir: String): Unit = {
    val evt = Tables.events(s, dir).select(to_json(struct(
      lit("evt").as("tbl"), col("event_id"), col("user_id"), col("event_type"),
      // stringified decimal: to_json would drop a trailing zero ("31.4")
      col("value").cast("decimal(10,2)").cast("string").as("amt"))).as("val"))
    val cust = Tables.customer(s, dir).select(to_json(struct(
      lit("cust").as("tbl"), col("c_custkey"), col("c_name"))).as("val"))
    evt.unionByName(cust).createOrReplaceTempView("events_topic")
  }

  private def colspecRun(s: SparkSession): Map[String, DataFrame] = {
    val rows = compile.ColumnSpecCompiler.fromCsv {
      val in = getClass.getResourceAsStream("/graft/demo_colspec.csv")
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    compile.ColumnSpecCompiler.run(s, rows,
      compile.ColumnSpecCompiler.Config(sourceViewFrom = "events_topic", jsonColumn = "val"))
  }

  /** The FGAC masked-enrichment mirror of q_sttm_fgac and q_sttm_prefixed. */
  private val sttmFgacSql: String =
    s"""WITH $sttmOracleCte
         SELECT x.USER_ID, x.EVENT_ID,
           CASE WHEN c.C_ACCTBAL >= 0 THEN c.C_NAME ELSE '***' END AS C_NAME_MASKED,
           c.C_MKTSEGMENT, x.VALUE
         FROM xref x LEFT JOIN cu c ON x.USER_ID = c.C_CUSTKEY
         ORDER BY x.USER_ID"""
}
