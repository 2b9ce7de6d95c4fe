package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.compile.{CompiledPipeline, CompilerOptions, PipelineCompiler}
import graft.spec.{SttmParser, SttmSpec}

/** The benchmark's 24-field workbook (`perfbench/workbooks/wide_sttm.csv`:
  * three JSON views, two XREFs, one FGAC INSERT, one quarantine INSERT and
  * three straight sinks), compiled by [[PipelineCompiler]], over a small
  * hand-made topic and customer table. The payload also carries the demo
  * workbook's field `k`, so the demo workbook runs over the same tables. */
object WideWorkbook {
  val Width = 24

  def compile(): CompiledPipeline = {
    def csv(f: String) = Files.readString(Paths.get("perfbench/workbooks", f))
    val p = PipelineCompiler.compile(
      SttmSpec(SttmParser.mappingFromCsv(csv("wide_sttm.csv")),
        SttmParser.matrixFromCsv(csv("matrix.csv"))),
      CompilerOptions(payloadCol = "props"))
    require(p.errors.isEmpty, p.errors.mkString("; "))
    p
  }

  private val topicSchema = StructType.fromDDL(
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING")
  private val customerSchema = StructType.fromDDL(
    "c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE, c_mktsegment STRING")
  private val Types = Seq("purchase", "click", "signup")

  /** Write `events` topic rows as ONE parquet file and a customer table
    * under `dir`. Keys 0-36; every 7th key has no customer and every 5th a
    * negative balance. Rows 0 and 1 are an order tie: key 0's latest
    * purchase twice, with the same ts and event id but different values
    * and payloads, so the latest-by-key's pick between them rests on the
    * row order inside one partition. */
  def write(spark: SparkSession, dir: String, events: Int): Unit = {
    val rows = (0 until events).map { n =>
      val i = if (n == 1) 0L else n.toLong
      val tsSecond = if (i == 0) 1000L else i * 7919L % 500L
      val props = (s""""k": ${n % 10}""" +: (0 until Width).map(f =>
        s""""f$f": ${(n * 31 + f * 7) % 1000}""")).mkString("{", ", ", "}")
      Row(i, new Timestamp(1600000000000L + tsSecond * 1000L), i % 37,
        Types((i % 3).toInt), n * 1.5, props)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), topicSchema)
      .write.parquet(s"$dir/topic")
    val cust = (0L until 37L).filter(_ % 7 != 3).map(k =>
      Row(k, f"Customer#$k%09d", if (k % 5 == 2) -1.0 - k else 10.0 * k,
        Seq("AUTOMOBILE", "BUILDING", "MACHINERY")((k % 3).toInt)))
    spark.createDataFrame(spark.sparkContext.parallelize(cust, 1), customerSchema)
      .write.parquet(s"$dir/customer")
  }

  /** Register what [[write]] wrote as the workbook's input tables. */
  def register(spark: SparkSession, dir: String): Unit = {
    spark.read.parquet(s"$dir/topic").createOrReplaceTempView("events")
    spark.read.parquet(s"$dir/customer").createOrReplaceTempView("customer")
  }
}
