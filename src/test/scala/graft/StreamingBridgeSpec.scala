package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.compile.{DemoSpecs, PipelineCompiler, StreamingBridge}
import graft.streaming.{ChangelogSink, SnapshotStore, StreamingPipeline}

/** The workbook-compiled streaming statement set (StreamingBridge) must
  * converge to the compiled BATCH runner's results table-for-table: the
  * XREF snapshot equals the batch latest-by-key, and the FGAC/quarantine
  * changelog sinks — which emit per-batch upsert DELTAS — accumulate
  * exactly the batch outputs' key sets (customer is static, so a key's
  * enrichment/quarantine verdict never changes across batches). */
class StreamingBridgeSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  test("compiled statement set streams to the batch runner's results") {
    spark.sparkContext.setLogLevel("ERROR")
    val work = Files.createTempDirectory("graft_bridge").toString

    // batch reference: the compiled pipeline's own run()
    Tables.events(spark, dir).createOrReplaceTempView("events")
    Tables.customer(spark, dir).createOrReplaceTempView("customer")
    val pipeline = PipelineCompiler.compile(
      DemoSpecs.jsonPipeline, DemoSpecs.jsonOptions)
    val batchOut = pipeline.run(spark)

    // streamed: 4 micro-batches through the bridge, dedicated session
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    Tables.events(spark, dir)
      .withColumn("part", pmod(col("event_id"), lit(4)))
      .write.partitionBy("part").parquet(s"$work/in")
    Tables.customer(s2, dir).createOrReplaceTempView("customer")
    val set = StreamingBridge.toStatementSet(pipeline, "events", s2, nBuckets = 4)
    val source = s2.readStream
      .schema(s2.read.parquet(s"$work/in").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$work/in")
    val q = StreamingPipeline.runSet(source, set, work)
    val finished = q.awaitTermination(300000)
    if (!finished) q.stop()
    assert(finished, "streaming query did not terminate within 300 s — " +
      "asserting against partial results would mask the hang")

    // XREF snapshot == batch XREF (value-level, keyed)
    val snap = new SnapshotStore(
      StreamingPipeline.xrefStorePath(work, "XREF_USER")).read(s2).get
    val want = batchOut("XREF_USER")
    assert(snap.count() == want.count())
    val joined = snap.select(col("USER_ID"), col("EVENT_ID").as("got"))
      .join(want.select(col("USER_ID"), col("EVENT_ID").as("exp")), Seq("USER_ID"))
    assert(joined.filter(col("got") =!= col("exp")).count() == 0)

    // FGAC changelog: every final key delivered (delta semantics), masked
    // name matches the batch FGAC for each key's final row
    val fgac = ChangelogSink.read(s2, StreamingPipeline.sinkPath(work, "FGAC_USER_REF"))
    assert(fgac.select("USER_ID").distinct().count() == want.count())
    val lastPerKey = graft.operators.SttmOps.latestByKey(
      fgac, Seq("USER_ID"), Seq("batch"))
    val fj = lastPerKey.select(col("USER_ID"), col("C_NAME_MASKED").as("got"))
      .join(batchOut("FGAC_USER_REF")
        .select(col("USER_ID"), col("C_NAME_MASKED").as("exp")), Seq("USER_ID"))
    assert(fj.filter(not(col("got") <=> col("exp"))).count() == 0)

    // quarantine changelog: exactly the batch quarantine key set
    val quar = ChangelogSink.read(s2, StreamingPipeline.sinkPath(work, "QUAR_USER"))
    val gotKeys = quar.select("USER_ID").distinct()
    val expKeys = batchOut("QUAR_USER").select("USER_ID").distinct()
    assert(gotKeys.count() == expKeys.count())
    assert(gotKeys.join(expKeys, Seq("USER_ID"), "left_anti").count() == 0)
  }

  /** A session of its own whose `customer` table is a CSV copy of the
    * sf0.001 customers, so a stage scanning the dim is told apart from the
    * topic's parquet scans by its scan node. */
  private def csvDimSession(base: String): SparkSession = {
    val csv = s"$base/customer_csv"
    val schema = Tables.customer(spark, dir).schema
    if (!Files.exists(Paths.get(csv)))
      Tables.customer(spark, dir).write.option("header", "true").csv(csv)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    s2.read.option("header", "true").schema(schema).csv(csv)
      .createOrReplaceTempView("customer")
    s2
  }

  /** The RDD behind a temp view materialized by localCheckpoint. */
  private def checkpointedRdd(session: SparkSession, view: String): Option[Int] =
    session.table(view).queryExecution.analyzed.collectFirst {
      case r: LogicalRDD => r.rdd.id
    }

  test("a bridged dim view is scanned in one trigger of four; XREF snapshot and sinks equal an unmaterialized run") {
    spark.sparkContext.setLogLevel("ERROR")
    val base = Files.createTempDirectory("graft_bridge_dims").toString
    val pipeline = PipelineCompiler.compile(DemoSpecs.jsonPipeline, DemoSpecs.jsonOptions)
    val dims = pipeline.views.filter(_.name == "CUST_VW")
    val sc = spark.sparkContext
    val dimScans = new AtomicInteger()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.rddInfos.exists(_.scope.exists(_.name.toLowerCase.startsWith("scan csv"))))
          dimScans.incrementAndGet()
    }
    val n = 4
    // stages scanning the dim, per trigger; `materialize` false is the
    // reference run: deltas planned again by each sink, and the dims
    // re-registered from their SQL after the bridge's views ran
    def run(work: String, materialize: Boolean): Seq[Int] = {
      val s2 = csvDimSession(base)
      val ev = Tables.events(s2, dir)
      val bridged = StreamingBridge.toStatementSet(pipeline, "events", s2, nBuckets = 4)
      val set = if (materialize) bridged else bridged.copy(views = bridged.views.map(v =>
        v.copy(transform = { raw: DataFrame =>
          val df = v.transform(raw)
          dims.foreach(d => raw.sparkSession.sql(d.selectSql).createOrReplaceTempView(d.name))
          df
        })))
      val stores = set.xrefs.map(x => x.name -> new SnapshotStore(
        StreamingPipeline.xrefStorePath(work, x.name), x.nBuckets, x.maxLiveSegments)).toMap
      (0 until n).map { i =>
        TestBus.drain(sc)
        dimScans.set(0)
        StreamingPipeline.processSet(stores, work, set,
          ev.filter(pmod(col("event_id"), lit(n)) === i), i.toLong, materialize = materialize)
        TestBus.drain(sc)
        dimScans.get
      }
    }
    sc.addSparkListener(listener)
    val (scans, refScans) =
      try (run(s"$base/materialized", materialize = true), run(s"$base/reference", materialize = false))
      finally sc.removeSparkListener(listener)
    assert(scans.head > 0 && scans.tail.forall(_ == 0),
      s"stages scanning the dim in each of $n triggers: $scans")
    assert(refScans.forall(_ > 0), s"the reference run reads the dim every trigger: $refScans")

    import StoreFiles.{footerSchemas, rows}
    def snap(run: String) = new SnapshotStore(
      StreamingPipeline.xrefStorePath(s"$base/$run", "XREF_USER")).read(spark).get
    assert(rows(snap("materialized")) == rows(snap("reference")))
    assert(footerSchemas(spark, StreamingPipeline.xrefStorePath(s"$base/materialized", "XREF_USER")) ==
      footerSchemas(spark, StreamingPipeline.xrefStorePath(s"$base/reference", "XREF_USER")))
    Seq("FGAC_USER_REF", "QUAR_USER").foreach { s =>
      def sink(run: String) = ChangelogSink.read(spark, StreamingPipeline.sinkPath(s"$base/$run", s))
      assert(rows(sink("materialized")).nonEmpty, s"sink $s")
      assert(rows(sink("materialized")) == rows(sink("reference")), s"sink $s")
      assert(footerSchemas(spark, StreamingPipeline.sinkPath(s"$base/materialized", s)) ==
        footerSchemas(spark, StreamingPipeline.sinkPath(s"$base/reference", s)), s"sink $s")
    }
  }

  test("a stream releases each trigger's raw batch and deltas: only the dim's blocks stay cached") {
    spark.sparkContext.setLogLevel("ERROR")
    val base = Files.createTempDirectory("graft_bridge_blocks").toString
    val n = 4
    Tables.events(spark, dir)
      .withColumn("part", pmod(col("event_id"), lit(n)))
      .write.partitionBy("part").parquet(s"$base/in")
    val pipeline = PipelineCompiler.compile(DemoSpecs.jsonPipeline, DemoSpecs.jsonOptions)
    val s2 = csvDimSession(base)
    val bridged = StreamingBridge.toStatementSet(pipeline, "events", s2, nBuckets = 4)
    // the stream's own session, where the bridge materializes the dim
    val streamSession = new java.util.concurrent.atomic.AtomicReference[SparkSession]()
    val first = bridged.views.head
    val set = bridged.copy(views = first.copy(transform = { raw: DataFrame =>
      streamSession.set(raw.sparkSession); first.transform(raw) }) +: bridged.views.tail)
    val source = s2.readStream
      .schema(s2.read.parquet(s"$base/in").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$base/in")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val q = StreamingPipeline.runSet(source, set, s"$base/work")
    assert(q.awaitTermination(300000), "streaming query did not terminate")
    assert(q.exception.isEmpty, q.exception.toString)
    assert(q.recentProgress.count(_.numInputRows > 0) == n)
    val dim = checkpointedRdd(streamSession.get, "CUST_VW")
    assert(dim.nonEmpty, "the stream's CUST_VW is not a materialized frame")
    // the caller's session keeps the dim as the plain view it registered
    assert(checkpointedRdd(s2, "CUST_VW").isEmpty)
    assert((sc.getPersistentRDDs.keySet -- before) == dim.toSet,
      s"RDDs the stream left persisted: ${sc.getPersistentRDDs.keySet -- before}, dim $dim")
    // unpersisting is asynchronous: the blocks go shortly after the trigger
    eventually(timeout(30.seconds), interval(200.millis)) {
      assert((TestBus.rddsWithBlocks(sc) -- before) == dim.toSet)
    }
  }

  /** ADVICE r12 #1: an upsert-mode XREF with a PK and a delete flag but NO
    * `graft.upsert.order` can't be snapshotted (no ranking), so the bridge
    * routes it to the changelog-sink path — which must still apply the
    * delete-flag exclusion the batch runner applies to that same target,
    * or streamed output silently retains rows the batch path drops. */
  test("upsert XREF without ranking still drops delete-flagged rows when streamed") {
    spark.sparkContext.setLogLevel("ERROR")
    val work = Files.createTempDirectory("graft_bridge_df").toString

    val noOrderSpec = graft.spec.SttmSpec(
      DemoSpecs.deleteFlagPipeline.rows,
      graft.spec.SttmParser.matrixFromCsv(
        "Key,EVENTS_ALL_VW,XREF_USER_DF\n" +
          "changelog.mode,,upsert\n" +
          "graft.delete.flag,,EVENT_TYPE\n" +
          "graft.delete.values,,error\n" +
          "value.format,json,avro-registry\n"))
    Tables.events(spark, dir).createOrReplaceTempView("events")
    val pipeline = PipelineCompiler.compile(noOrderSpec)
    // upsert-without-order is a compile WARNING (snapshot semantics
    // degraded), not an error — the bridge must still execute it faithfully
    assert(pipeline.errors.isEmpty)
    val batchOut = pipeline.run(spark)("XREF_USER_DF")
    assert(batchOut.filter(col("EVENT_TYPE") === "error").count() == 0)

    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    Tables.events(spark, dir)
      .withColumn("part", pmod(col("event_id"), lit(4)))
      .write.partitionBy("part").parquet(s"$work/in")
    val set = StreamingBridge.toStatementSet(pipeline, "events", s2, nBuckets = 4)
    // classified as a sink (no ranking -> no SnapshotStore), not an xref
    assert(set.xrefs.isEmpty && set.sinks.map(_.name) == Seq("XREF_USER_DF"))
    val source = s2.readStream
      .schema(s2.read.parquet(s"$work/in").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$work/in")
    val q = StreamingPipeline.runSet(source, set, work)
    assert(q.awaitTermination(300000), "streaming query did not terminate")

    // streamed == batch: each event row rides exactly one micro-batch and
    // the view/exclusion are row-wise, so the accumulated changelog must be
    // the batch output as a multiset
    val streamed = ChangelogSink
      .read(s2, StreamingPipeline.sinkPath(work, "XREF_USER_DF"))
      .select(batchOut.columns.map(col).toSeq: _*)
    assert(streamed.filter(col("EVENT_TYPE") === "error").count() == 0,
      "streamed sink retained delete-flagged rows the batch runner drops")
    assert(streamed.exceptAll(batchOut).count() == 0)
    assert(batchOut.exceptAll(streamed).count() == 0)
  }

  /** ADVICE r12 #3: an XREF whose FROM table is another XREF would die with
    * an AnalysisException on the FIRST TRIGGER (xref deltas register only
    * during sink emits, after xref-input views evaluate) — the bridge must
    * reject it at construction, same contract as the sink-chain check. */
  test("XREF chained on another XREF fails at construction, not mid-stream") {
    spark.sparkContext.setLogLevel("ERROR")
    val header = "PipelineStage,TargetTable,TargetColumn,TargetDataType," +
      "IsTargetPK,TargetPK,MessageFormat,FieldSelector,SourcePrimaryTable," +
      "SourcePrimaryAlias,SourceField,ExprOverride,SourceTransformExpr," +
      "FilterPredicate,JoinTable,JoinAlias,JoinType,JoinCondition,Notes"
    val mapping = Seq(
      "View,EV_VW,USER_ID,BIGINT,Y,USER_ID,,,events,e,,user_id,,,,,,,",
      "View,EV_VW,TS,TIMESTAMP,N,,,,events,e,,ts,,,,,,,",
      "XREF,XREF_A,USER_ID,BIGINT,Y,USER_ID,,,EV_VW,v,USER_ID,,,,,,,,",
      "XREF,XREF_A,TS,TIMESTAMP,N,,,,EV_VW,v,TS,,,,,,,,",
      "XREF,XREF_B,USER_ID,BIGINT,Y,USER_ID,,,XREF_A,x,USER_ID,,,,,,,,",
      "XREF,XREF_B,TS,TIMESTAMP,N,,,,XREF_A,x,TS,,,,,,,,")
    val chained = graft.spec.SttmSpec(
      graft.spec.SttmParser.mappingFromCsv((header +: mapping).mkString("\n")),
      graft.spec.SttmParser.matrixFromCsv(
        "Key,EV_VW,XREF_A,XREF_B\n" +
          "changelog.mode,,upsert,upsert\n" +
          "\"graft.upsert.order\",,TS,TS\n" +
          "value.format,json,avro-registry,avro-registry\n"))
    val pipeline = PipelineCompiler.compile(chained)
    assert(pipeline.errors.isEmpty, pipeline.errors.mkString("; "))
    val s2 = spark.newSession()
    val ex = intercept[RuntimeException] {
      StreamingBridge.toStatementSet(pipeline, "events", s2, nBuckets = 4)
    }
    assert(ex.getMessage.contains("reads XREF target"), ex.getMessage)

    // r13 review: the chain must also be caught when the forbidden
    // reference arrives via the JOIN clause, not the primary FROM table —
    // XREF_B reads EV_VW but JOINs XREF_A
    val joinMapping = Seq(
      "View,EV_VW,USER_ID,BIGINT,Y,USER_ID,,,events,e,,user_id,,,,,,,",
      "View,EV_VW,TS,TIMESTAMP,N,,,,events,e,,ts,,,,,,,",
      "XREF,XREF_A,USER_ID,BIGINT,Y,USER_ID,,,EV_VW,v,USER_ID,,,,,,,,",
      "XREF,XREF_A,TS,TIMESTAMP,N,,,,EV_VW,v,TS,,,,,,,,",
      "XREF,XREF_B,USER_ID,BIGINT,Y,USER_ID,,,EV_VW,v,USER_ID,,,," +
        "XREF_A,x,LEFT,v.USER_ID = x.USER_ID,",
      "XREF,XREF_B,TS,TIMESTAMP,N,,,,EV_VW,v,TS,,,,,,,,")
    val chainedJoin = graft.spec.SttmSpec(
      graft.spec.SttmParser.mappingFromCsv((header +: joinMapping).mkString("\n")),
      graft.spec.SttmParser.matrixFromCsv(
        "Key,EV_VW,XREF_A,XREF_B\n" +
          "changelog.mode,,upsert,upsert\n" +
          "\"graft.upsert.order\",,TS,TS\n" +
          "value.format,json,avro-registry,avro-registry\n"))
    val pj = PipelineCompiler.compile(chainedJoin)
    assert(pj.errors.isEmpty, pj.errors.mkString("; "))
    assert(pj.xrefs.find(_.name == "XREF_B").exists(_.joinTable == "XREF_A"))
    val ex2 = intercept[RuntimeException] {
      StreamingBridge.toStatementSet(pj, "events", spark.newSession(), nBuckets = 4)
    }
    assert(ex2.getMessage.contains("reads XREF target"), ex2.getMessage)
  }

  /** ADVICE r13 (medium): stream-vs-static view classification must scan
    * EVERY referenced table — a view whose JOIN side (not sourceTable) is
    * the stream table, or whose source is another stream view, is a stream
    * view; classifying either static silently binds a one-time frame of
    * the stream. And a view reading an XREF/sink target must fail at
    * construction (views plan before target frames exist in a trigger). */
  test("join-side and transitive stream views classify as stream views; view-on-target rejects") {
    spark.sparkContext.setLogLevel("ERROR")
    val header = "PipelineStage,TargetTable,TargetColumn,TargetDataType," +
      "IsTargetPK,TargetPK,MessageFormat,FieldSelector,SourcePrimaryTable," +
      "SourcePrimaryAlias,SourceField,ExprOverride,SourceTransformExpr," +
      "FilterPredicate,JoinTable,JoinAlias,JoinType,JoinCondition,Notes"
    val mapping = Seq(
      "View,EV_VW,USER_ID,BIGINT,Y,USER_ID,,,events,e,,user_id,,,,,,,",
      "View,EV_VW,TS,TIMESTAMP,N,,,,events,e,,ts,,,,,,,",
      // source is another STREAM VIEW -> stream view transitively
      "View,CHAIN_VW,USER_ID,BIGINT,Y,USER_ID,,,EV_VW,v,USER_ID,,,,,,,,",
      // source is a dim table with the stream table authored on the JOIN
      // columns: the compiler IGNORES join columns for views (parse views
      // are join-free by the reference's model — PipelineCompiler's
      // joinRow is None for isView), so the emitted SQL reads customer
      // only and static classification is CORRECT; the assertion below
      // pins both facts so classification and emission can't diverge
      "View,JOIN_VW,CUST_ID,BIGINT,Y,CUST_ID,,,customer,c,,c_custkey,,," +
        "events,e,LEFT,c.c_custkey = e.user_id,",
      // genuinely static dim view, for contrast
      "View,DIM_VW,CUST_ID,BIGINT,Y,CUST_ID,,,customer,c,,c_custkey,,,,,,,")
    val spec = graft.spec.SttmSpec(
      graft.spec.SttmParser.mappingFromCsv((header +: mapping).mkString("\n")),
      graft.spec.SttmParser.matrixFromCsv(
        "Key,EV_VW,CHAIN_VW,JOIN_VW,DIM_VW\n" +
          "value.format,json,json,json,json\n"))
    val pipeline = PipelineCompiler.compile(spec)
    assert(pipeline.errors.isEmpty, pipeline.errors.mkString("; "))
    val s2 = spark.newSession()
    Tables.customer(s2, dir).createOrReplaceTempView("customer")
    val set = StreamingBridge.toStatementSet(pipeline, "events", s2, nBuckets = 4)
    val perBatch = set.views.map(_.name).toSet
    assert(perBatch("EV_VW") && perBatch("CHAIN_VW"),
      s"stream views misclassified: $perBatch")
    // JOIN_VW compiled join-free (views never join), so it references only
    // customer — static is correct AND consistent with its emitted SQL
    assert(!pipeline.views.find(_.name == "JOIN_VW").get.selectSql
      .toUpperCase.contains("JOIN"))
    assert(!perBatch("JOIN_VW") && !perBatch("DIM_VW"),
      "join-free dim views must stay static")
    // the static dim views registered at bridge time
    assert(s2.catalog.tableExists("DIM_VW") && s2.catalog.tableExists("JOIN_VW"))

    // a view whose FROM table is an XREF target: construction-time error
    val badMapping = Seq(
      "View,EV_VW,USER_ID,BIGINT,Y,USER_ID,,,events,e,,user_id,,,,,,,",
      "View,EV_VW,TS,TIMESTAMP,N,,,,events,e,,ts,,,,,,,",
      "XREF,XREF_A,USER_ID,BIGINT,Y,USER_ID,,,EV_VW,v,USER_ID,,,,,,,,",
      "XREF,XREF_A,TS,TIMESTAMP,N,,,,EV_VW,v,TS,,,,,,,,",
      "View,BAD_VW,USER_ID,BIGINT,Y,USER_ID,,,XREF_A,x,USER_ID,,,,,,,,")
    val badSpec = graft.spec.SttmSpec(
      graft.spec.SttmParser.mappingFromCsv((header +: badMapping).mkString("\n")),
      graft.spec.SttmParser.matrixFromCsv(
        "Key,EV_VW,XREF_A,BAD_VW\n" +
          "changelog.mode,,upsert,\n" +
          "\"graft.upsert.order\",,TS,\n" +
          "value.format,json,avro-registry,json\n"))
    val bp = PipelineCompiler.compile(badSpec)
    assert(bp.errors.isEmpty, bp.errors.mkString("; "))
    val ex = intercept[RuntimeException] {
      StreamingBridge.toStatementSet(bp, "events", spark.newSession(), nBuckets = 4)
    }
    assert(ex.getMessage.contains("VIEW BAD_VW reads XREF target"), ex.getMessage)
  }
}
