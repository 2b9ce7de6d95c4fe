package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions.{Add, Cast, EvalMode, Expression, IsNotNull, Literal, StringSplitSQL}
import org.apache.spark.sql.types.{DecimalType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Name-compat layer: the scalar functions the reference's generated SQL
  * uses under Flink names, registered as Spark temp functions that expand to
  * native Catalyst expressions (so STTM expression text executes verbatim,
  * fully codegen'd — no UDFs).
  *
  * Surface (union of every expression in resources/output/final-output.sql
  * :83-144, resources/sql/xref-queries.sql:71-99 and the STTM sheets):
  * JSON_VALUE, SPLIT_INDEX, IS_DECIMAL, REGEXP, TO_TIMESTAMP_LTZ; everything
  * else (CAST/TRY_CAST/COALESCE/NULLIF/TRIM/CHAR_LENGTH/TO_DATE/CASE/LIKE)
  * is already native Spark SQL.
  */
object FlinkCompat {

  private def fn(name: String, args: Expression*): Expression =
    UnresolvedFunction(Seq(name), args, isDistinct = false)

  private def strLit(e: Expression): Option[String] = e match {
    case Literal(s: UTF8String, StringType) => Some(s.toString)
    case Literal(s: String, StringType) => Some(s)
    case _ => None
  }

  /** Installs the names into the session once; a repeat call is a no-op
    * (no re-registration, no "replaced a previously registered function"
    * warning). */
  def register(spark: SparkSession): Unit = {
    // Compiled JSON views parse the payload once per row, not once per
    // mapped column — see graft.plans.FuseJsonAccess (SURVEY §4 row 1).
    graft.plans.FuseJsonAccess.install(spark)
    val reg = spark.sessionState.functionRegistry
    // json_value is no Spark built-in: present means already installed.
    if (!reg.functionExists(FunctionIdentifier("json_value"))) install(reg)
  }

  private def install(reg: FunctionRegistry): Unit = {
    // JSON_VALUE(str, path) — Flink returns STRING, exactly get_json_object.
    reg.createOrReplaceTempFunction("json_value",
      args => fn("get_json_object", args: _*), "built-in")

    // SPLIT_INDEX(str, sep, idx) — sep is a literal *string* delimiter
    // (Flink semantics), idx is 0-based; out-of-bounds yields NULL
    // (try_element_at; plain element_at would throw under ANSI). Uses
    // StringSplitSQL — the literal-delimiter splitter behind split_part —
    // so a NON-literal separator expression (e.g. a column holding '.' or
    // '|') is also treated as a plain string, never as a regex; the old
    // regex-based form silently diverged for those.
    reg.createOrReplaceTempFunction("split_index",
      args => fn("try_element_at",
        StringSplitSQL(args(0), args(1)),
        Add(args(2), Literal(1))), "built-in")

    // IS_DECIMAL(str) — true iff the string parses as a decimal number.
    reg.createOrReplaceTempFunction("is_decimal",
      args => IsNotNull(Cast(args.head, DecimalType(38, 18), None, EvalMode.TRY)),
      "built-in")

    // REGEXP(str, pattern) — boolean full/partial match, Spark's rlike.
    reg.createOrReplaceTempFunction("regexp",
      args => fn("rlike", args: _*), "built-in")

    // TO_TIMESTAMP_LTZ(numeric, precision) with precision 0|3 (epoch
    // seconds|millis), or TO_TIMESTAMP_LTZ(str, format). The reference's
    // format 'yyyy-MM-dd hh:mm:ss.SSS' (final-output.sql:96) uses 12-hour
    // 'hh' for a 24-hour field — a latent reference bug; we normalize the
    // time part to 'HH' (divergence recorded here and in the docs). Parse
    // failures yield NULL (try_to_timestamp), matching Flink's nullable
    // TO_TIMESTAMP semantics rather than ANSI abort.
    reg.createOrReplaceTempFunction("to_timestamp_ltz",
      { args =>
        (args.lift(1).flatMap(e => e match {
          case Literal(v: Int, _) => Some(v)
          case Literal(v: Long, _) => Some(v.toInt)
          case _ => None
        }), args.lift(1).flatMap(strLit)) match {
          case (Some(0), _) => fn("timestamp_seconds", args.head)
          case (Some(3), _) => fn("timestamp_millis", args.head)
          case (Some(6), _) => fn("timestamp_micros", args.head)
          case (_, Some(fmt)) =>
            val fixed = fmt.replace(" hh:", " HH:")
            fn("try_to_timestamp", args.head,
              Literal(UTF8String.fromString(fixed), StringType))
          case _ => fn("try_to_timestamp", args: _*)
        }
      }, "built-in")
  }
}
