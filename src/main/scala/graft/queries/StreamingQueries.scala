package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import QuerySupport._

/** Streaming: the STTM statement-set replays and the watermarked
  * interval join, each checked against its batch mirror. */
private[graft] object StreamingQueries extends QueryLayer("streaming") {
  lazy val defs: Seq[QueryDef] = Seq(

    // The STREAMING twin of q_range_pairs, run through the real
    // watermarked stream-stream interval join: the event table is replayed
    // as four file micro-batches (maxFilesPerTrigger=1 under an
    // AvailableNow drain), the append-mode pair output lands in a parquet
    // sink, and the result read back must equal the batch banded range
    // join bit-for-bit — which the DuckDB oracle checks with the SAME
    // mirror SQL as q_range_pairs. The watermark delay is set far past the
    // event table's time span so no input is late-dropped regardless of
    // file arrival order (drop semantics under tight delays are pinned
    // separately by StreamingRangeJoinSpec).
    query("q_stream_range_join", Isolated)(rangePairsMirrorSql)((s, dir) => {
      // Replay input is a per-sf-dir cached fixture (same discipline as
      // the multimodal fixtures): the bench times the streaming replay —
      // the operator under test — not a per-invocation fixture write.
      val in = maintained(dir, "srj_in")(hasSuccess)(in =>
        Tables.events(s, dir)
          .select(col("user_id").as("k0"), col("ts"), col("event_id").as("id0"))
          .repartition(4)
          .write.mode("overwrite").parquet(in))
      val work = java.nio.file.Files.createTempDirectory("graft_srj_q")
      // The streaming query runs in a FRESH session (shared SparkContext,
      // private SQLConf rebuilt from builder/SparkConf defaults —
      // newSession() does NOT inherit runtime s.conf.set values; use
      // cloneSession() if one is ever needed here) with a low
      // shuffle-partition count: the state
      // store materializes shuffle-partition stores PER SIDE PER BATCH
      // (2 sides x 5 batches here), so at the session default of 32 this
      // ~25k-row-per-batch replay paid ~320 state-store commits of pure
      // fixed cost — the commit overhead, not the join, dominated
      // (measured 18.3 s -> ~5 s at sf0.1 with 8 partitions). Cloning
      // instead of mutating `s.conf` keeps the setting invisible to the
      // other queries Verify plans concurrently. The partition count is
      // a per-deployment knob: size it to batch volume, not corpus size.
      val s2 = s.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", "8")
      val src = s2.readStream
        .schema(s.read.parquet(in).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in)
      val joined = streaming.StreamingRangeJoin.withinWindowPairsStream(
        src, "k0", "ts", "id0", windowSec = 7200L, delaySec = 315360000L)
      val q = joined.writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", s"$work/out")
        .option("checkpointLocation", s"$work/_cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // localCheckpoint pulls the (small) pair table into block-manager
      // blocks so the per-invocation sink + streaming checkpoint dirs can
      // be deleted immediately instead of accumulating under /tmp.
      val res = s.read.parquet(s"$work/out")
        .select(col("k"), col("id1"), unix_micros(col("ts1")).as("ts1"),
          col("id2"), unix_micros(col("ts2")).as("ts2"))
        .orderBy("id1", "id2")
        .localCheckpoint()
      graft.operators.GenStore.deleteRecursively(work)
      res
    }),

    // T1/T2/A2/J3 measured, not just test-verified (VERDICT r08 #6): the
    // reference's core product shape — topic -> view -> XREF upsert ->
    // FGAC enrich + quarantine, one foreachBatch statement set — replayed
    // as a real file-stream over the sf dir's events (5 micro-batches,
    // the q_stream_range_join fixture discipline). Every stage runs per
    // batch (incremental bucketed snapshot merge, both fan-out sinks);
    // the returned result is the FINAL XREF snapshot, whose oracle is the
    // batch-mode latest-by-key mirror — streamed == batch is the
    // upsert-changelog contract. Fresh session with batch-sized shuffle
    // partitions (the q_stream_range_join deployment knob).
    query("q_stream_sttm", Isolated)(sttmXrefSql)((s, dir) => {
      val (s2, source) = sttmStream(s, dir)
      val work = java.nio.file.Files.createTempDirectory("graft_sttm_q")
      val cust = Tables.customer(s2, dir)
      def view(b: DataFrame): DataFrame =
        b.filter(col("event_type") === "purchase").select(
          col("user_id").as("USER_ID"),
          col("event_id").as("EVENT_ID"),
          col("ts").as("TS"),
          nullif(trim(get_json_object(col("props"), "$.k")), lit(""))
            .cast("int").as("K"),
          col("value").as("VALUE"))
      def enrich(v: DataFrame, d: streaming.StreamingPipeline.UpsertDelta): DataFrame =
        d.rows.join(cust, d.rows("USER_ID") === cust("c_custkey"), "left")
          .select(col("USER_ID"), col("EVENT_ID"),
            when(col("c_acctbal") >= 0, col("c_name")).otherwise(lit("***"))
              .as("C_NAME_MASKED"),
            col("c_mktsegment").as("C_MKTSEGMENT"), col("VALUE"))
      def quarantine(v: DataFrame, d: streaming.StreamingPipeline.UpsertDelta): DataFrame =
        v.join(cust.filter(col("c_acctbal") >= 0),
            v("USER_ID") === col("c_custkey"), "left_anti")
          .select(col("USER_ID"), col("EVENT_ID"))
      import streaming.StreamingPipeline.{SinkDef, StatementSet, ViewDef, XrefDef}
      // buckets sized to the TABLE's volume, not the default: the replay's
      // xref is batch-scale (BASELINE.md round-12 third wave)
      val set = StatementSet(
        views = Seq(ViewDef("view", view)),
        xrefs = Seq(XrefDef("xref", "view", Seq("USER_ID"),
          Seq("TS", "EVENT_ID"), nBuckets = 8)),
        sinks = Seq(
          SinkDef("fgac_out", (v, d) => enrich(v("view"), d("xref"))),
          SinkDef("quarantine_out", (v, d) => quarantine(v("view"), d("xref")))))
      replayToXref(s2, source, set, work, "xref")
    }),

    // The statement set at REFERENCE ARITY (VERDICT r11 #2; reference
    // shape resources/output/final-output.sql:81-145 — several
    // discriminated views over ONE topic feeding straight INSERTs, a join
    // INSERT and a quarantine INSERT, all in one EXECUTE STATEMENT SET):
    // 3 views (event_type is the discriminator, like the reference's
    // $.tbl), 2 XREF upsert stores, 5 changelog sinks — 10 stages sharing
    // one scan per micro-batch. The oracle mirrors the two final XREF
    // snapshots (streamed == batch latest-by-key, per xref) plus each
    // straight sink's accumulated changelog row count (effectively-once:
    // every event delivered exactly once across the 5-batch replay).
    query("q_stream_sttm_multi", Isolated)(
      // reference-arity statement set: each xref snapshot mirrors the batch
      // latest-by-key of its discriminated view; each straight sink's
      // accumulated changelog holds every view row exactly once
      """WITH ev AS (
           SELECT event_type,
                  CAST(user_id AS BIGINT) AS USER_ID,
                  CAST(event_id AS BIGINT) AS EVENT_ID,
                  ts AS TS, CAST(value AS DOUBLE) AS VALUE
           FROM events),
         latest AS (
           SELECT event_type, USER_ID, EVENT_ID, TS, VALUE
           FROM (SELECT *, row_number() OVER
                   (PARTITION BY event_type, USER_ID
                    ORDER BY TS DESC, EVENT_ID DESC) AS rn
                 FROM ev) WHERE rn = 1)
         SELECT 'purchase' AS src, USER_ID, EVENT_ID,
                epoch_us(TS) AS TS_US, VALUE
         FROM latest WHERE event_type = 'purchase'
         UNION ALL
         SELECT 'click', USER_ID, EVENT_ID, epoch_us(TS), VALUE
         FROM latest WHERE event_type = 'click'
         UNION ALL
         SELECT 'sink_s_' || event_type,
                CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                CAST(NULL AS BIGINT), CAST(count(*) AS DOUBLE)
         FROM ev WHERE event_type IN ('purchase', 'click', 'signup')
         GROUP BY event_type
         ORDER BY src, USER_ID""")((s, dir) => {
      val (s2, source) = sttmStream(s, dir)
      val work = java.nio.file.Files.createTempDirectory("graft_sttm_multi")
      import streaming.StreamingPipeline.{SinkDef, StatementSet, ViewDef, XrefDef}
      def entity(t: String)(b: DataFrame): DataFrame =
        b.filter(col("event_type") === t).select(
          col("user_id").as("USER_ID"), col("event_id").as("EVENT_ID"),
          col("ts").as("TS"), col("value").as("VALUE"))
      val cust = Tables.customer(s2, dir)
      val set = StatementSet(
        views = Seq(
          ViewDef("v_purchase", entity("purchase")),
          ViewDef("v_click", entity("click")),
          ViewDef("v_signup", entity("signup"))),
        xrefs = Seq(
          XrefDef("x_purchase", "v_purchase", Seq("USER_ID"),
            Seq("TS", "EVENT_ID"), nBuckets = 8),
          XrefDef("x_click", "v_click", Seq("USER_ID"),
            Seq("TS", "EVENT_ID"), nBuckets = 8)),
        sinks = Seq(
          SinkDef("s_purchase", (v, _) => v("v_purchase")),
          SinkDef("s_click", (v, _) => v("v_click")),
          SinkDef("s_signup", (v, _) => v("v_signup")),
          SinkDef("s_fgac", (_, d) =>
            d("x_purchase").rows
              .join(cust, col("USER_ID") === col("c_custkey"), "left")
              .select(col("USER_ID"), col("EVENT_ID"),
                when(col("c_acctbal") >= 0, col("c_name")).otherwise(lit("***"))
                  .as("C_NAME_MASKED"),
                col("VALUE"))),
          SinkDef("s_quarantine", (v, _) =>
            v("v_purchase").join(cust.filter(col("c_acctbal") >= 0),
                col("USER_ID") === col("c_custkey"), "left_anti")
              .select(col("USER_ID"), col("EVENT_ID")))))
      val q = streaming.StreamingPipeline.runSet(source, set, work.toString)
      q.awaitTermination()
      def snap(name: String, tag: String): DataFrame =
        new streaming.SnapshotStore(
            streaming.StreamingPipeline.xrefStorePath(work.toString, name))
          .read(s2).get
          .select(lit(tag).as("src"), col("USER_ID"), col("EVENT_ID"),
            unix_micros(col("TS")).as("TS_US"), col("VALUE"))
      import s2.implicits._
      val sinkCounts = Seq("s_purchase", "s_click", "s_signup").map { n =>
        val c = streaming.ChangelogSink.read(s2,
          streaming.StreamingPipeline.sinkPath(work.toString, n)).count()
        (s"sink_$n", None: Option[Long], None: Option[Long],
          None: Option[Long], c.toDouble)
      }.toDF("src", "USER_ID", "EVENT_ID", "TS_US", "VALUE")
      val res = snap("x_purchase", "purchase")
        .unionByName(snap("x_click", "click"))
        .unionByName(sinkCounts)
        .orderBy("src", "USER_ID")
        .localCheckpoint()
      graft.operators.GenStore.deleteRecursively(work)
      res
    }),

    // The statement set COMPILED FROM A MULTI-TABLE WORKBOOK (the other
    // half of VERDICT r11 #2): the same 5-table demo STTM spec the batch
    // q_sttm_* oracles run (2 views, upsert XREF, FGAC enrichment,
    // quarantine — the final-output.sql shape) executes as one streaming
    // statement set via StreamingBridge: topic views re-evaluate per
    // micro-batch, the XREF becomes a SnapshotStore table, the FGAC/
    // quarantine INSERTs become ChangelogSinks reading the upsert delta,
    // and the dim view (CUST_VW over customer) stays a static frame.
    // Oracle: the final XREF snapshot equals the batch latest-by-key —
    // compiled-streamed == compiled-batch == oracle.
    query("q_stream_sttm_compiled", Isolated)(sttmXrefSql)((s, dir) => {
      val (s2, source) = sttmStream(s, dir)
      val work = java.nio.file.Files.createTempDirectory("graft_sttm_comp")
      Tables.customer(s2, dir).createOrReplaceTempView("customer")
      val pipeline = compile.PipelineCompiler.compile(
        compile.DemoSpecs.jsonPipeline, compile.DemoSpecs.jsonOptions)
      val set = compile.StreamingBridge.toStatementSet(
        pipeline, streamTable = "events", s2, nBuckets = 8)
      replayToXref(s2, source, set, work, "XREF_USER")
    })
  )

  /** The STTM streaming replays' shared input: the sf dir's events as a
    * maintained 5-file fixture (event_id mod 5), streamed one file per
    * trigger into a fresh session with batch-sized shuffle partitions.
    * Micro-batch jobs are small and uniform, so AQE's per-job re-planning
    * costs more than it saves (-16% addBatch, BASELINE.md round-12 third
    * wave); deployments with mixed/backfill batch sizes keep it on.
    * Returns (session, streaming source). */
  private def sttmStream(s: SparkSession, dir: String): (SparkSession, DataFrame) = {
    val in = maintained(dir, "sttm_stream_in")(hasSuccess)(in =>
      Tables.events(s, dir)
        .withColumn("part", pmod(col("event_id"), lit(5)))
        .write.partitionBy("part").mode("overwrite").parquet(in))
    val s2 = s.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    (s2, s2.readStream
      .schema(s.read.parquet(in).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(in))
  }

  /** Run `set` over `source` to completion in `work`, then read back XREF
    * table `xref` as the STTM XREF rows (ts as micros), materialized before
    * `work` is deleted. */
  private def replayToXref(s2: SparkSession, source: DataFrame,
      set: streaming.StreamingPipeline.StatementSet, work: java.nio.file.Path,
      xref: String): DataFrame = {
    streaming.StreamingPipeline.runSet(source, set, work.toString).awaitTermination()
    val res = new streaming.SnapshotStore(
        streaming.StreamingPipeline.xrefStorePath(work.toString, xref))
      .read(s2).get
      .select(col("USER_ID"), col("EVENT_ID"),
        unix_micros(col("TS")).as("TS_US"), col("K"), col("VALUE"))
      .orderBy("USER_ID")
      .localCheckpoint()
    graft.operators.GenStore.deleteRecursively(work)
    res
  }
}
