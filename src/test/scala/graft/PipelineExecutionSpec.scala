package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.compile.{DemoSpecs, PipelineCompiler}

/** Executes the compiled demo pipeline on sf0.001 and asserts row-level
  * semantics (what the reference never tests: its generated SQL is never
  * executed in CI — SURVEY.md §5). */
class PipelineExecutionSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  private lazy val outputs: Map[String, org.apache.spark.sql.DataFrame] = {
    spark.sparkContext.setLogLevel("ERROR")
    Tables.events(spark, dir).createOrReplaceTempView("events")
    Tables.customer(spark, dir).createOrReplaceTempView("customer")
    PipelineCompiler.compile(DemoSpecs.jsonPipeline, DemoSpecs.jsonOptions).run(spark)
  }

  test("view stage filters to the purchase entity and types the payload") {
    val ev = outputs("EVENTS_VW")
    // stable compile order: PK first, then alphabetical (v22:297-303)
    assert(ev.columns.toSeq == Seq("USER_ID", "EVENT_ID", "K", "TS", "VALUE"))
    assert(ev.count() > 0)
    assert(ev.schema("K").dataType.typeName == "integer")
    val raw = Tables.events(spark, dir)
    assert(ev.count() == raw.filter(org.apache.spark.sql.functions.col("event_type") === "purchase").count())
  }

  test("xref stage keeps exactly one latest row per key") {
    val x = outputs("XREF_USER")
    val keys = x.select("USER_ID").distinct().count()
    assert(x.count() == keys)
    // the kept EVENT_ID per user is the max-ts one
    import org.apache.spark.sql.functions._
    val manual = outputs("EVENTS_VW")
      .groupBy("USER_ID").agg(max_by(col("EVENT_ID"), struct(col("TS"), col("EVENT_ID"))).as("E"))
    val joined = x.join(manual, Seq("USER_ID"))
    assert(joined.filter(col("EVENT_ID") =!= col("E")).count() == 0)
  }

  test("fgac stage masks unmatched/negative-balance customers") {
    import org.apache.spark.sql.functions._
    val f = outputs("FGAC_USER_REF")
    assert(f.count() == outputs("XREF_USER").count()) // left join preserves
    val masked = f.filter(col("C_NAME_MASKED") === "***")
    val unmasked = f.filter(col("C_NAME_MASKED") =!= "***")
    assert(unmasked.count() > 0)
    // every unmasked row joined a customer with non-negative balance
    val cust = Tables.customer(spark, dir)
    val bad = unmasked.join(cust, unmasked("USER_ID") === cust("c_custkey"), "left")
      .filter(col("c_acctbal") < 0 || col("c_acctbal").isNull)
    assert(bad.count() == 0)
    assert(masked.count() + unmasked.count() == f.count())
  }

  test("quarantine stage holds exactly the keys without an entitled customer match") {
    import org.apache.spark.sql.functions._
    val q = outputs("QUAR_USER")
    // compound join: a customer row only matches when c_acctbal >= 0, so
    // missing AND negative-balance customers both quarantine (de-vacuated
    // fixture — the arm is non-empty wherever any customer has acctbal < 0).
    val entitled = Tables.customer(spark, dir).filter(col("c_acctbal") >= 0)
    val expected = outputs("XREF_USER")
      .join(entitled, outputs("XREF_USER")("USER_ID") === col("c_custkey"), "left_anti")
    assert(q.count() == expected.count())
    assert(q.select("REASON").distinct().collect().map(_.getString(0))
      .forall(_ == "customer: none or not entitled"))
  }

  test("csv view auto-index extracts positional fields") {
    import org.apache.spark.sql.functions._
    Tables.events(spark, dir)
      .select(concat_ws("|",
        col("event_id").cast("string"), col("event_type"),
        col("value").cast("decimal(10,2)").cast("string")).as("val"))
      .createOrReplaceTempView("events_csv")
    val out = PipelineCompiler.compile(DemoSpecs.csvPipeline, DemoSpecs.csvOptions)
      .run(spark)("CSV_VW")
    val row = out.orderBy("F_ID").limit(1).collect()(0)
    assert(row.getAs[Long]("F_ID") == 0L)
    assert(Set("click", "purchase", "error", "signup", "view").contains(row.getAs[String]("F_TYPE")))
    assert(row.getAs[String]("RAW").contains("|"))
  }

  test("SPLIT_INDEX: separator is a literal string even when non-literal (regex metachars)") {
    graft.functions.FlinkCompat.register(spark)
    import spark.implicits._
    Seq(("a.b.c", "."), ("x|y|z", "|")).toDF("s", "sep")
      .createOrReplaceTempView("si_t")
    val rows = spark.sql(
      """SELECT SPLIT_INDEX(s, sep, 1) AS dyn,
                SPLIT_INDEX(s, '.', 0) AS lit,
                SPLIT_INDEX(s, sep, 9) AS oob
         FROM si_t ORDER BY s""").collect()
    assert(rows(0).getString(0) == "b") // column-valued '.' splits literally
    assert(rows(0).getString(1) == "a")
    assert(rows(1).getString(0) == "y") // column-valued '|' splits literally
    assert(rows(1).getString(1) == "x|y|z") // no '.' present -> whole string
    assert(rows(0).isNullAt(2) && rows(1).isNullAt(2)) // OOB -> NULL
  }

  test("FlinkCompat.register installs once per session; a repeat call is a no-op") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val fresh = spark.newSession()
    val reg = fresh.sessionState.functionRegistry
    val id = FunctionIdentifier("json_value")
    assert(reg.lookupFunction(id).isEmpty)
    graft.functions.FlinkCompat.register(fresh)
    // every registration stores a fresh ExpressionInfo (the builder lambda
    // is a shared instance either way), so identity shows none happened
    val first = reg.lookupFunction(id)
    assert(first.isDefined)
    graft.functions.FlinkCompat.register(fresh)
    assert(reg.lookupFunction(id).get eq first.get)
    assert(fresh.sql("SELECT JSON_VALUE('{\"a\":1}', '$.a')").head().getString(0) == "1")
  }
}
