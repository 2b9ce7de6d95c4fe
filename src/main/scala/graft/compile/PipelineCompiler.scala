package graft.compile

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.exprs.ExprCompiler
import graft.functions.FlinkCompat
import graft.operators.SttmOps
import graft.spec.{SttmRow, SttmSpec}
import graft.validate.SttmValidation
import graft.validate.SttmValidation.Issue

/** Compiler options (defaults match the reference's constants:
  * raw_payload_col='val', csv delim ',' — sttm_to_flink_v22.py:306-307). */
final case class CompilerOptions(
    payloadCol: String = "val",
    csvDelimiter: String = ",")

object CompilerOptions {
  /** Resolve options from the workbook's Config sheet (`raw_value_column`,
    * `csv_delimiter` — the keys the v21/v5 generators read via cfg_get),
    * with explicit overrides (CLI flags) taking precedence. */
  def fromConfig(config: Map[String, String],
                 payloadOverride: Option[String] = None,
                 delimOverride: Option[String] = None): CompilerOptions =
    CompilerOptions(
      payloadCol = payloadOverride
        .orElse(config.get("raw_value_column")).getOrElse("val"),
      csvDelimiter = delimOverride
        .orElse(config.get("csv_delimiter")).getOrElse(","))
}

/** One compiled target: its emitted name, stage, column list, PK, matrix
  * props, and the SELECT statement (Flink-flavored scalar functions; runs
  * verbatim on Spark once [[FlinkCompat]] is registered). `sourceTable` is
  * the FROM table as authored in the sheet — the streaming bridge uses it
  * to tell topic-fed views from static dim views. */
final case class CompiledTable(
    name: String,
    stage: String,
    columns: Seq[(String, String)],
    pk: Seq[String],
    props: Map[String, String],
    selectSql: String,
    sourceTable: String = "",
    joinTable: String = "") {

  /** Every table this target's FROM clause references (primary + the one
    * optional JOIN), lowercased — what the streaming bridge's
    * fail-at-construction chain checks must scan (r13 review: checking
    * sourceTable alone let a JOIN on a sink/xref target through to die, or
    * silently bind a stale batch frame, mid-stream). */
  def referencedTables: Set[String] =
    Set(sourceTable, joinTable).filter(_.nonEmpty).map(_.toLowerCase)

  private def q(s: String): String =
    if (s.isEmpty || s.head == '`' || s.head == '(') s else s"`$s`"

  /** CREATE VIEW artifact (build_view_sql shape, v22:218-228). */
  def viewSql: String =
    s"CREATE VIEW ${q(name)} AS\n$selectSql;"

  /** CREATE TABLE artifact (build_table_ddl shape, v22:230-258). */
  def tableDdl: String = {
    val colLines = columns.map { case (c, t) => s"  $c $t" } ++
      (if (pk.nonEmpty) Seq(s"  PRIMARY KEY (${pk.mkString(", ")}) NOT ENFORCED") else Nil)
    val base = s"CREATE TABLE IF NOT EXISTS ${q(name)} (\n" + colLines.mkString(",\n") + "\n)"
    val withProps =
      if (props.isEmpty) base
      else base + "\nWITH (\n  " +
        props.map { case (k, v) => s"'$k' = '$v'" }.mkString(", ") + "\n)"
    withProps + ";"
  }

  /** INSERT artifact (build_insert_sql shape, v22:260-281). */
  def insertSql: String =
    s"INSERT INTO ${q(name)} (${columns.map(_._1).mkString(", ")})\n$selectSql;"

  /** F6: delete-flag exclusion BEFORE ranking (sttm-requirements.md:
    * 77-84,129-133) — matrix keys graft.delete.flag (column) and
    * graft.delete.values (CSV truthy list, default "Y,1,true"). Shared by
    * the batch runner and the streaming bridge so both execute the same
    * semantics. */
  def deleteCleaned(base: DataFrame): DataFrame =
    props.get("graft.delete.flag").map(_.trim).filter(_.nonEmpty)
      .map { flagCol =>
        val values = props.get("graft.delete.values")
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Seq("Y", "1", "true"))
        SttmOps.excludeDeleted(base, flagCol, values)
      }.getOrElse(base)

  /** The `graft.upsert.order` ranking columns (empty when unset). */
  def upsertOrder: Seq[String] =
    props.get("graft.upsert.order")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)

  /** Upsert-mode XREF with a PK — the shape `run()` applies deleteCleaned
    * to, with or without ranking columns. The streaming bridge must apply
    * the same exclusion on this shape even when it can't snapshot it
    * (ADVICE r12 #1: a PK+delete-flag XREF without `graft.upsert.order`
    * lands on the sink path, and a verbatim SELECT there would stream
    * delete-flagged rows the batch runner drops). */
  def isUpsertLike: Boolean =
    stage == "XREF" && pk.nonEmpty &&
      props.get("changelog.mode").map(_.toLowerCase).contains("upsert")

  /** An upsert-changelog XREF with a usable snapshot key + ranking — the
    * targets the streaming bridge materializes as SnapshotStore tables. */
  def isUpsertXref: Boolean = isUpsertLike && upsertOrder.nonEmpty
}

final case class CompiledPipeline(
    tables: Seq[CompiledTable],
    issues: Seq[Issue],
    options: CompilerOptions) {

  def views: Seq[CompiledTable] = tables.filter(_.stage == "VIEW")
  def xrefs: Seq[CompiledTable] = tables.filter(_.stage == "XREF")
  def fgacs: Seq[CompiledTable] = tables.filter(t => t.stage != "VIEW" && t.stage != "XREF")
  def errors: Seq[Issue] = issues.filter(_.level == SttmValidation.Error)

  /** Consolidated 00_all.sql artifact: Views -> Tables -> EXECUTE STATEMENT
    * SET, matching the reference bundle ordering (v22:386-400, B1/B2). */
  def allSql: String = {
    val sections = Seq.newBuilder[String]
    if (views.nonEmpty)
      sections += "-- ===== VIEWS =====\n" +
        views.map(v => s"-- >>> ${v.name}\n${v.viewSql}").mkString("\n\n")
    val sinks = xrefs ++ fgacs
    if (sinks.nonEmpty)
      sections += "-- ===== TABLES (Kafka + Avro) =====\n" +
        sinks.map(t => s"-- >>> ${t.name}\n${t.tableDdl}").mkString("\n\n")
    if (sinks.nonEmpty)
      sections += "-- ===== INSERT STATEMENT SET =====\n" +
        "EXECUTE STATEMENT SET\nBEGIN\n\n" +
        (xrefs ++ fgacs).map(t => s"-- >>> ${t.name}\n${t.insertSql}").mkString("\n\n") +
        "\n\nEND;"
    sections.result().mkString("\n\n") + "\n"
  }

  /** Execute the pipeline on `spark` in stage order. Inputs (raw tables) must
    * already be resolvable (temp views / catalog tables). Each compiled
    * target is materialized lazily as a DataFrame and registered as a temp
    * view under its emitted name so later stages can reference it; XREF
    * targets with `changelog.mode=upsert` + a PK get latest-by-key snapshot
    * semantics, ordered by the matrix prop `graft.upsert.order` (comma-
    * separated column list, e.g. "TS,EVENT_ID").
    *
    * Scale note: this is pure plan construction — nothing materializes until
    * an action; Catalyst sees the whole view->xref->fgac tree and pushes
    * filters/prunes columns across stage boundaries, through the XREF's
    * latest-by-key too (graft.plans.PruneLatestPayload; the reference's
    * Flink jobs are opaque to each other; ours fuse).
    */
  def run(spark: SparkSession): Map[String, DataFrame] = {
    FlinkCompat.register(spark)
    val out = Seq.newBuilder[(String, DataFrame)]
    tables.foreach { t =>
      val base = spark.sql(t.selectSql)
      val df = t.stage match {
        case "XREF" if t.props.get("changelog.mode").map(_.toLowerCase).contains("upsert")
            && t.pk.nonEmpty =>
          val cleaned = t.deleteCleaned(base)
          if (t.upsertOrder.nonEmpty) SttmOps.latestByKey(cleaned, t.pk, t.upsertOrder)
          else cleaned
        case _ => base
      }
      df.createOrReplaceTempView(t.name)
      out += t.name -> df
    }
    out.result().toMap
  }
}

/** STTM spec -> compiled pipeline. The SELECT text per target mirrors the
  * reference builders exactly (expression precedence, PK-row view filter with
  * bare-token JSON rewrite, AND-combined non-view predicates, single join,
  * first-wins column dedup) — see SURVEY.md §2 for the operator citations.
  */
object PipelineCompiler {

  def compile(spec: SttmSpec, opts: CompilerOptions = CompilerOptions()): CompiledPipeline = {
    val tables = spec.grouped.map { case (logical, rows) =>
      compileTable(logical, rows, spec, opts)
    }
    // Engine-level rule: an upsert XREF with a PK but no ranking columns
    // would silently skip latest-by-key in run() — surface it loudly.
    val upsertIssues = tables.collect {
      case t if t.stage == "XREF" && t.pk.nonEmpty &&
          t.props.get("changelog.mode").map(_.toLowerCase).contains("upsert") &&
          !t.props.get("graft.upsert.order").exists(_.trim.nonEmpty) =>
        SttmValidation.Issue(SttmValidation.Warn,
          s"[${t.name}] changelog.mode=upsert but no 'graft.upsert.order' matrix key: " +
            "snapshot will contain ALL rows per key, not the latest (set it to the " +
            "event-time/seq columns, e.g. \"TS,EVENT_ID\")")
    }
    CompiledPipeline(tables, SttmValidation.validate(spec) ++ upsertIssues, opts)
  }

  private def q(s: String): String =
    if (s.isEmpty || s.head == '`' || s.head == '(') s else s"`$s`"

  /** Name decoration from the Config sheet, union of generator versions:
    * v21's kind-specific `view_prefix`/`view_suffix` and `table_prefix`/
    * `table_suffix` (apply_prefix_suffix, sttm_to_flink_v21.py:48-56), plus
    * the v5/v20/v21 workbooks' `name_prefix` ("prefix for all tables/
    * views", README sheet) applied outermost to every target kind — the
    * reference workbooks use one scheme or the other, never both. Applied
    * to the EMITTED name only — source and join references stay exactly as
    * authored in the sheet (v21:336 decorates `t_emitted`, never FROM). */
  private def applyPrefixSuffix(name: String, config: Map[String, String],
                                isView: Boolean): String = {
    val all = config.getOrElse("name_prefix", "")
    if (isView)
      all + config.getOrElse("view_prefix", "") + name + config.getOrElse("view_suffix", "")
    else
      all + config.getOrElse("table_prefix", "") + name + config.getOrElse("table_suffix", "")
  }

  private def compileTable(logical: String, rows: Seq[SttmRow], spec: SttmSpec,
                           opts: CompilerOptions): CompiledTable = {
    val stage = rows.headOption.map(_.stage).getOrElse("FGAC")
    val isView = stage == "VIEW"
    val autoIdx = if (isView) ExprCompiler.autoCsvIndex(rows) else Map.empty[String, Int]
    val exprs = rows.map(r =>
      r -> ExprCompiler.chooseExpr(r, isView, opts.payloadCol, opts.csvDelimiter, autoIdx))

    // first-wins column dedup (v22:241-248)
    val seen = scala.collection.mutable.Set.empty[String]
    val cols = exprs.filter { case (r, _) =>
      r.targetColumn.nonEmpty && seen.add(r.targetColumn)
    }
    val selects = cols.map { case (r, e) => s"  $e AS ${r.targetColumn}" }
    val colDefs = cols.map { case (r, _) => r.targetColumn -> r.dataTypeOrDefault }
    val pk = rows.filter(r => r.isPk && r.targetColumn.nonEmpty)
      .map(_.targetColumn).distinct

    // one lookup for BOTH the FROM clause and the sourceTable field — the
    // streaming bridge partitions on sourceTable, and deriving the two
    // from separate finds would let them desynchronize silently
    val srcRow = rows.find(_.sourcePrimaryTable.nonEmpty)
    val src = srcRow
      .map(r => s"${q(r.sourcePrimaryTable)} ${if (r.sourcePrimaryAlias.nonEmpty) r.sourcePrimaryAlias else "t"}")
      .getOrElse("(VALUES(1)) t(dummy)")

    val where =
      if (isView) {
        val pkFilter = rows.find(r => r.isPk && r.filterPredicate.trim.nonEmpty)
          .map(_.filterPredicate.trim).getOrElse("")
        if (pkFilter.isEmpty) ""
        else ExprCompiler.rewritePredicateAsJson(
          ExprCompiler.sanitizePredicate(pkFilter), opts.payloadCol)
      } else {
        val preds = rows.map(r => ExprCompiler.sanitizePredicate(r.filterPredicate))
          .filter(_.nonEmpty).distinct
        preds.mkString(" AND ")
      }

    // one join max, from the first row carrying both JoinTable & JoinCondition
    val joinRow =
      if (isView) None
      else rows.find(r => r.joinTable.trim.nonEmpty && r.joinCondition.trim.nonEmpty)
    val join = joinRow
      .map { r =>
        val jty0 = r.joinType.trim.toUpperCase
        val jty = if (Set("INNER", "LEFT", "RIGHT", "FULL").contains(jty0)) jty0 else "LEFT"
        val ja = if (r.joinAlias.trim.nonEmpty) r.joinAlias.trim else "j"
        s"\n  $jty JOIN ${q(r.joinTable.trim)} $ja ON ${r.joinCondition.trim}"
      }.getOrElse("")

    val whereSql = if (where.nonEmpty) s"\nWHERE $where" else ""
    val selectSql = "SELECT\n" + selects.mkString(",\n") + s"\nFROM $src$join$whereSql"

    // matrix lookup: logical column name preferred, emitted as fallback;
    // ${table_name} macros expand to the EMITTED (decorated) name
    val emitted = applyPrefixSuffix(logical, spec.config, isView)
    val props = spec.matrix.propsFor(logical, emitted)
    CompiledTable(emitted, stage, colDefs, pk, props, selectSql,
      sourceTable = srcRow.map(_.sourcePrimaryTable).getOrElse(""),
      joinTable = joinRow.map(_.joinTable.trim).getOrElse(""))
  }
}
