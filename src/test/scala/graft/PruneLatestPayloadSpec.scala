package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, MaxBy, MinBy}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import graft.compile.{CompiledPipeline, DemoSpecs, PipelineCompiler}
import graft.plans.PruneLatestPayload
import graft.PruneLatestPayloadSpec.latestFields

/** graft.plans.PruneLatestPayload changes what a latest-by-key reader
  * computes, never what it returns: every XREF, FGAC and quarantine target
  * of a compiled workbook is equal in rows and schema with the rule and
  * without it. */
class PruneLatestPayloadSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** `targets` of `pipeline` run on a new session over the inputs
    * `register` makes, each with its schema, sorted rows and value-struct
    * fields; without the rule when `prune` is false. */
  private def run(pipeline: CompiledPipeline, register: SparkSession => Unit,
                  targets: Seq[String], prune: Boolean)
      : Map[String, (StructType, Seq[String], Seq[Seq[String]])] = {
    val s = spark.newSession()
    register(s)
    val out = pipeline.run(s) // installs the rule with the Flink-name functions
    if (!prune)
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations.filterNot(_ eq PruneLatestPayload)
    targets.map(t => t -> (out(t).schema, StoreFiles.rows(out(t)), latestFields(out(t)))).toMap
  }

  private def assertEquivalent(pipeline: CompiledPipeline, register: SparkSession => Unit,
                               xref: String, readers: Seq[String]): Unit = {
    val targets = xref +: readers
    val pruned = run(pipeline, register, targets, prune = true)
    val whole = run(pipeline, register, targets, prune = false)
    targets.foreach { t =>
      assert(pruned(t)._1 == whole(t)._1, s"$t schema")
      assert(pruned(t)._2.nonEmpty, s"$t is empty")
      assert(pruned(t)._2 == whole(t)._2, s"$t rows")
    }
    // the XREF target reads every field; its readers read fewer
    val all = whole(xref)._3
    assert(all.size == 1 && pruned(xref)._3 == all)
    readers.foreach { t =>
      assert(whole(t)._3 == all, s"$t without the rule")
      assert(pruned(t)._3.size == 1 && pruned(t)._3.head.size < all.head.size,
        s"$t with the rule: ${pruned(t)._3}")
    }
  }

  test("demo workbook: XREF, FGAC and quarantine targets equal with and without the rule") {
    spark.sparkContext.setLogLevel("ERROR")
    val dir = Files.createTempDirectory("graft_prune_demo").toString
    WideWorkbook.write(spark, dir, 300)
    assertEquivalent(PipelineCompiler.compile(DemoSpecs.jsonPipeline, DemoSpecs.jsonOptions),
      WideWorkbook.register(_, dir), "XREF_USER", Seq("FGAC_USER_REF", "QUAR_USER"))
  }

  test("24-field workbook with an order tie in one partition: targets equal with and without the rule") {
    spark.sparkContext.setLogLevel("ERROR")
    val dir = Files.createTempDirectory("graft_prune_wide").toString
    WideWorkbook.write(spark, dir, 300)
    val p = WideWorkbook.compile()
    assertEquivalent(p, WideWorkbook.register(_, dir), "XREF_PURCHASE",
      Seq("FGAC_PURCHASE", "QUAR_PURCHASE"))
    // the tied key is in the FGAC output, with one of its two values
    val s = spark.newSession()
    WideWorkbook.register(s, dir)
    val tied = p.run(s)("FGAC_PURCHASE").filter(col("USER_ID") === 0L)
      .select(col("VALUE")).collect().map(_.getDouble(0)).toSeq
    assert(tied == Seq(0.0) || tied == Seq(1.5), s"tied key's value: $tied")
  }

  test("a struct read whole is left whole; min_by prunes like max_by; Filter reads count") {
    spark.sparkContext.setLogLevel("ERROR")
    val s = spark.newSession()
    graft.plans.FuseJsonAccess.install(s)
    import s.implicits._
    val df = Seq((1L, 1L, "a", 10L), (1L, 2L, "b", 20L), (2L, 1L, "c", 30L))
      .toDF("k", "ts", "v", "w")
    val payload = struct(df.columns.map(col).toIndexedSeq: _*)
    val latest = df.groupBy("k").agg(max_by(payload, struct(col("ts"))).as("__r"))
    val earliest = df.groupBy("k").agg(min_by(payload, struct(col("ts"))).as("__r"))
    val all = Seq(Seq("k", "ts", "v", "w"))

    assert(latestFields(latest.select(to_json(col("__r")))) == all)
    assert(StoreFiles.rows(latest.select(to_json(col("__r")))) == Seq(
      """[{"k":1,"ts":2,"v":"b","w":20}]""", """[{"k":2,"ts":1,"v":"c","w":30}]"""))
    assert(latestFields(latest.select(col("__r"), col("__r.v"))) == all)
    assert(StoreFiles.rows(latest.select(col("__r"), col("__r.v"))) ==
      Seq("[[1,2,b,20],b]", "[[2,1,c,30],c]"))

    // one field read: Spark folds the reader into the aggregate's results
    assert(latestFields(latest.select(col("__r.v"))) == Seq(Seq("v")))
    assert(StoreFiles.rows(latest.select(col("__r.v"))) == Seq("[b]", "[c]"))
    assert(latestFields(latest.select(col("__r.w"), to_json(col("__r")))) == all)

    // fields read out of order: the struct keeps them in its own order
    assert(latestFields(latest.select(col("__r.w"), col("__r.v"))) == Seq(Seq("v", "w")))
    assert(StoreFiles.rows(latest.select(col("__r.w"), col("__r.v"))) == Seq("[20,b]", "[30,c]"))
    assert(latestFields(earliest.select(col("__r.w"), col("__r.v"))) == Seq(Seq("v", "w")))
    assert(StoreFiles.rows(earliest.select(col("__r.w"), col("__r.v"))) == Seq("[10,a]", "[30,c]"))

    // a Filter between the readers and the aggregate reads fields too
    val filtered = earliest.filter(col("__r.w") > 15L).select(col("__r.k"))
    assert(latestFields(filtered) == Seq(Seq("k", "w")))
    assert(StoreFiles.rows(filtered) == Seq("[2]"))
  }
}

object PruneLatestPayloadSpec {
  /** The fields of each `max_by`/`min_by` value struct in `df`'s optimized plan. */
  def latestFields(df: DataFrame): Seq[Seq[String]] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions).flatMap(_.collect {
      case AggregateExpression(f @ (_: MaxBy | _: MinBy), _, _, _, _) =>
        f.children.head.dataType.asInstanceOf[StructType].fieldNames.toSeq
    })
}
