package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.compile.{CompilerOptions, DemoSpecs, PipelineCompiler}
import graft.spec.{SttmParser, SttmSpec, TableMatrix}
import graft.validate.SttmValidation

/** Spec parsing, validation, and compiled-artifact shape — mirrors the
  * reference's end-to-end generate test (test_sttm_to_flink_v22.py:187-274)
  * at the artifact level (section markers, DDL shape, statement set). */
class SttmCompilerSpec extends AnyFunSuite {

  test("csv parser handles quoted fields with embedded commas") {
    val rows = SttmParser.splitCsv("a,\"b,c\",\"d\"\"e\"\nf,,g")
    assert(rows == Seq(Seq("a", "b,c", "d\"e"), Seq("f", "", "g")))
  }

  test("demo spec parses with stable stage ordering") {
    val spec = DemoSpecs.jsonPipeline
    val order = spec.grouped.map(_._1)
    assert(order == Seq("CUST_VW", "EVENTS_VW", "FGAC_USER_REF", "QUAR_USER", "XREF_USER")
      .sortBy(t => (Map("CUST_VW" -> 0, "EVENTS_VW" -> 0, "XREF_USER" -> 1,
        "FGAC_USER_REF" -> 2, "QUAR_USER" -> 2)(t), t)))
    // PK rows sort first within a table
    val ev = spec.grouped.find(_._1 == "EVENTS_VW").get._2
    assert(ev.head.targetColumn == "USER_ID" && ev.head.isPk)
  }

  test("matrix props: macro expansion, skip na, logical-name preference") {
    val m = SttmParser.matrixFromCsv(
      "Key,T1,T2\ntopic,pre.${table_name},na\nmode,upsert,append\n")
    assert(m.propsFor("T1", "T1") == Map("topic" -> "pre.T1", "mode" -> "upsert"))
    assert(m.propsFor("T2", "T2") == Map("mode" -> "append")) // na skipped
    assert(m.propsFor("nope", "nope") == Map.empty)
  }

  test("validation: duplicate target column is an error") {
    val rows = SttmParser.mappingFromCsv(
      SttmRowCsv.header +
        "View,V1,C1,STRING,N,,JSON,,src,t,k,,,,,,,,\n" +
        "View,V1,C1,STRING,N,,JSON,,src,t,k,,,,,,,,\n")
    val issues = SttmValidation.validateMapping(rows)
    assert(issues.exists(i => i.level == SttmValidation.Error &&
      i.message.contains("duplicate TargetColumn: C1")))
  }

  test("validation: XREF without upsert in matrix is an error") {
    val spec = SttmSpec(
      SttmParser.mappingFromCsv(
        SttmRowCsv.header + "XREF,XREF_A,C1,STRING,Y,,,,src,t,f,,,,,,,,\n"),
      SttmParser.matrixFromCsv("Key,XREF_A\nchangelog.mode,append\n"))
    val issues = SttmValidation.validate(spec)
    assert(issues.exists(_.message.contains("must set changelog.mode=upsert")))
  }

  test("upsert XREF whose graft.upsert.order lists no column is a Warn") {
    // "," names no ranking column, so run() skips latest-by-key exactly as
    // it does when the key is absent; the compile must say so
    def upsertWarns(order: String): Boolean = PipelineCompiler.compile(
        SttmSpec(DemoSpecs.deleteFlagPipeline.rows, SttmParser.matrixFromCsv(
          "Key,EVENTS_ALL_VW,XREF_USER_DF\n" +
            "changelog.mode,,upsert\n" +
            s"\"graft.upsert.order\",,\"$order\"\n" +
            "value.format,json,avro-registry\n")))
      .issues.exists(i => i.level == SttmValidation.Warn &&
        i.message.contains("no 'graft.upsert.order'"))
    assert(upsertWarns(","), "an order of empty items must warn")
    assert(upsertWarns(""), "an empty order must warn")
    assert(!upsertWarns("TS,EVENT_ID"), "a real order must not warn")
  }

  test("validation: JSON key starting with $ is an error") {
    val rows = SttmParser.mappingFromCsv(
      SttmRowCsv.header + "View,V1,C1,STRING,N,,JSON,$.bad,src,t,,,,,,,,,\n")
    val issues = SttmValidation.validateMapping(rows)
    assert(issues.exists(_.message.contains("must not start with '$'")))
  }

  test("validation: demo pipeline is clean of errors") {
    assert(PipelineCompiler.compile(DemoSpecs.jsonPipeline, DemoSpecs.jsonOptions)
      .errors.isEmpty)
  }

  test("compiled artifacts: view/table/insert shape and statement set") {
    val p = PipelineCompiler.compile(DemoSpecs.jsonPipeline, DemoSpecs.jsonOptions)
    val xref = p.tables.find(_.name == "XREF_USER").get
    assert(xref.tableDdl.contains("CREATE TABLE IF NOT EXISTS `XREF_USER`"))
    assert(xref.tableDdl.contains("PRIMARY KEY (USER_ID) NOT ENFORCED"))
    assert(xref.tableDdl.contains("'changelog.mode' = 'upsert'"))
    assert(xref.tableDdl.contains("'topic' = 'xref.XREF_USER'")) // macro expanded
    assert(xref.insertSql.startsWith("INSERT INTO `XREF_USER` (USER_ID, EVENT_ID, K, TS, VALUE)"))
    val ev = p.tables.find(_.name == "EVENTS_VW").get
    assert(ev.viewSql.startsWith("CREATE VIEW `EVENTS_VW` AS"))
    assert(ev.selectSql.contains("JSON_VALUE(CAST(props AS STRING), '$.k')"))
    assert(ev.selectSql.contains("WHERE event_type = 'purchase'"))
    val fgac = p.tables.find(_.name == "FGAC_USER_REF").get
    assert(fgac.selectSql.contains("LEFT JOIN `CUST_VW` c ON p.USER_ID = c.C_CUSTKEY"))
    val all = p.allSql
    assert(all.indexOf("-- ===== VIEWS =====") >= 0)
    assert(all.indexOf("-- ===== VIEWS =====") < all.indexOf("-- ===== TABLES"))
    assert(all.indexOf("-- ===== TABLES") < all.indexOf("EXECUTE STATEMENT SET"))
    assert(all.contains("BEGIN") && all.contains("END;"))
    // XREF inserts precede FGAC inserts inside the statement set
    assert(all.indexOf("INSERT INTO `XREF_USER`") < all.indexOf("INSERT INTO `FGAC_USER_REF`"))
  }

  test("v21 prefix/suffix truth table: emitted names, matrix lookup, macros") {
    val csv = SttmRowCsv.header +
      "View,EV_VW,ID,BIGINT,Y,ID,,,events,e,,id,,,,,,,\n" +
      "XREF,XREF_X,ID,BIGINT,Y,ID,,,EV_VW,v,ID,,,,,,,,\n"
    val rows = SttmParser.mappingFromCsv(csv)

    // no config -> names untouched
    val plain = PipelineCompiler.compile(SttmSpec(rows, TableMatrix.empty))
    assert(plain.tables.map(_.name) == Seq("EV_VW", "XREF_X"))

    // view keys touch only views; table keys only non-views
    def names(cfg: Map[String, String]) =
      PipelineCompiler.compile(SttmSpec(rows, TableMatrix.empty, cfg)).tables.map(_.name)
    assert(names(Map("view_prefix" -> "p_")) == Seq("p_EV_VW", "XREF_X"))
    assert(names(Map("view_suffix" -> "_s")) == Seq("EV_VW_s", "XREF_X"))
    assert(names(Map("table_prefix" -> "t_")) == Seq("EV_VW", "t_XREF_X"))
    assert(names(Map("table_suffix" -> "_t")) == Seq("EV_VW", "XREF_X_t"))
    assert(names(Map("view_prefix" -> "p_", "view_suffix" -> "_s",
      "table_prefix" -> "t_", "table_suffix" -> "_t")) ==
      Seq("p_EV_VW_s", "t_XREF_X_t"))

    // source references stay as authored (reference decorates emitted only)
    val decorated = PipelineCompiler.compile(
      SttmSpec(rows, TableMatrix.empty, Map("view_prefix" -> "p_")))
    assert(decorated.tables.last.selectSql.contains("FROM `EV_VW`"))

    // matrix: logical-name lookup still resolves; ${table_name} macro and
    // emitted-name fallback both see the DECORATED name
    val m = SttmParser.matrixFromCsv(
      "Key,XREF_X,t_OTHER\ntopic,x.${table_name},o.${table_name}\n")
    val withM = PipelineCompiler.compile(
      SttmSpec(rows, m, Map("table_prefix" -> "t_")))
    assert(withM.tables.last.props("topic") == "x.t_XREF_X")
    val fallbackRows = SttmParser.mappingFromCsv(SttmRowCsv.header +
      "XREF,OTHER,ID,BIGINT,Y,ID,,,events,e,,id,,,,,,,\n")
    val fb = PipelineCompiler.compile(
      SttmSpec(fallbackRows, m, Map("table_prefix" -> "t_")))
    assert(fb.tables.head.props("topic") == "o.t_OTHER") // matched via emitted

    // config csv parser: nan dropped, header case-insensitive
    val cfg = SttmParser.configFromCsv("KEY,Value\nview_prefix,p_\nx,nan\n")
    assert(cfg == Map("view_prefix" -> "p_"))
    // cfg_get parity: empty value falls back to default (dropped here);
    // duplicate key keeps the FIRST row (reference .iloc[0]), not the last
    val cfg2 = SttmParser.configFromCsv(
      "Key,Value\nraw_value_column,\nname_prefix,first_\nname_prefix,second_\n")
    assert(!cfg2.contains("raw_value_column"))
    assert(cfg2("name_prefix") == "first_")

    // v5/v20/v21 workbook scheme: name_prefix decorates ALL target kinds
    // (outermost when combined with kind-specific keys)
    assert(names(Map("name_prefix" -> "cust_")) == Seq("cust_EV_VW", "cust_XREF_X"))
    assert(names(Map("name_prefix" -> "cust_", "view_prefix" -> "p_")) ==
      Seq("cust_p_EV_VW", "cust_XREF_X"))
  }

  test("compiler options resolve from Config sheet with CLI override precedence") {
    val cfg = Map("raw_value_column" -> "payload", "csv_delimiter" -> "|")
    assert(CompilerOptions.fromConfig(cfg) == CompilerOptions("payload", "|"))
    assert(CompilerOptions.fromConfig(cfg, payloadOverride = Some("val2")) ==
      CompilerOptions("val2", "|"))
    assert(CompilerOptions.fromConfig(Map.empty) == CompilerOptions("val", ","))
  }

  test("xlsx parser reads the v20/v21 workbooks (union of generator versions)") {
    for (f <- Seq("STTM_v20", "STTM_v21")) {
      val spec = SttmParser.fromXlsx(s"/root/reference/resources/$f.xlsx")
      assert(spec.rows.nonEmpty, s"$f: no mapping rows")
      assert(spec.rows.exists(_.isPk), s"$f: no PK rows")
      assert(spec.config.contains("raw_table_name"), s"$f: raw_table_name missing")
    }
    // v20 carries a real name_prefix value; v21's name_prefix cell is EMPTY
    // in the workbook, so cfg_get falls back to the default — the parsed
    // config must therefore drop the key, not retain "" (cfg_get parity)
    assert(SttmParser.fromXlsx("/root/reference/resources/STTM_v20.xlsx")
      .config("name_prefix") == "DMB13A_1")
    assert(!SttmParser.fromXlsx("/root/reference/resources/STTM_v21.xlsx")
      .config.contains("name_prefix"))
    // v21 added csv_delimiter to the Config sheet
    assert(SttmParser.fromXlsx("/root/reference/resources/STTM_v21.xlsx")
      .config.contains("csv_delimiter"))
  }

  test("csv encoding sniff: UTF-8 BOM, UTF-16LE/BE with and without BOM") {
    import java.nio.charset.StandardCharsets._
    val csv = SttmRowCsv.header + "View,EV_VW,ID,BIGINT,Y,ID,,,events,e,,id,,,,,,,\n"
    val plain = SttmParser.mappingFromCsvBytes(csv.getBytes(UTF_8))
    assert(plain.head.targetTable == "EV_VW" && plain.head.isPk)
    assert(SttmParser.mappingFromCsvBytes(("\uFEFF" + csv).getBytes(UTF_8)) == plain)
    assert(SttmParser.mappingFromCsvBytes(("\uFEFF" + csv).getBytes(UTF_16LE)) == plain)
    assert(SttmParser.mappingFromCsvBytes(("\uFEFF" + csv).getBytes(UTF_16BE)) == plain)
    // BOM-less UTF-16: detected by the alternating-NUL stripe
    assert(SttmParser.mappingFromCsvBytes(csv.getBytes(UTF_16LE)) == plain)
    assert(SttmParser.mappingFromCsvBytes(csv.getBytes(UTF_16BE)) == plain)
    // ANSI Excel export (windows-1252): é is the single byte 0xE9, which is
    // malformed UTF-8 — must decode via the cp1252 fallback, not to U+FFFD
    val ansi = SttmRowCsv.header +
      "View,EV_VW,ID,BIGINT,Y,ID,,,events,e,,id,,,,,,,café\n"
    val fromAnsi = SttmParser.mappingFromCsvBytes(
      ansi.getBytes(java.nio.charset.Charset.forName("windows-1252")))
    assert(fromAnsi.head.notes == "café")
  }

  test("xlsx parser reads the reference STTM_v22 workbook") {
    val spec = SttmParser.fromXlsx("/root/reference/resources/STTM_v22.xlsx")
    val tables = spec.rows.map(_.targetTable).distinct
    assert(tables.contains("CBA_CI_ADR_view"))
    assert(spec.rows.exists(r => r.targetColumn == "ADR_ID" && r.isPk))
    assert(spec.rows.exists(_.filterPredicate.contains("INFA_TABLE_NAME LIKE")))
    // matrix sheet parsed
    assert(spec.matrix.tables.nonEmpty)
  }

  test("xlsx Config sheet (v21/v3 generator settings) parses into spec.config") {
    val spec = SttmParser.fromXlsx(
      "/root/reference/resources/STTM_v5_merged_from_v3.xlsx")
    assert(spec.config.get("raw_table_name").contains("hm_db"))
    assert(spec.config.get("raw_value_column").contains("val"))
    assert(spec.config.get("table_identifier_field").contains("$.tbl"))
    assert(spec.config.get("sink_value_format").contains("avro-registry"))
    // v22 workbook has no Config sheet -> empty config, not an error
    assert(SttmParser.fromXlsx("/root/reference/resources/STTM_v22.xlsx")
      .config.isEmpty)
  }
}

object SttmRowCsv {
  val header: String =
    "PipelineStage,TargetTable,TargetColumn,TargetDataType,IsTargetPK,TargetPK," +
    "MessageFormat,FieldSelector,SourcePrimaryTable,SourcePrimaryAlias,SourceField," +
    "ExprOverride,SourceTransformExpr,FilterPredicate,JoinTable,JoinAlias,JoinType," +
    "JoinCondition,Notes\n"
}
