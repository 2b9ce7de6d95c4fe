package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{
  Alias, Attribute, Expression, GetJsonObject, GetStructField, Literal,
  NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-parse compiled JSON views (SURVEY §4 row 1).
  *
  * The STTM compiler emits `JSON_VALUE(CAST(payload AS STRING), '$.col')`
  * per mapped column — the reference's verbatim shape
  * (scripts/sttm_to_flink_v22.py:131-135) — which executes as one
  * [[GetJsonObject]] per column, i.e. k full JSON parses of the payload per
  * row for a k-column view. At 100 TB that re-parse is the dominant CPU term
  * of the primary pipeline shape.
  *
  * This rule rewrites any [[Project]] holding >= 2 distinct simple-dot-path
  * `GetJsonObject`s over the same (canonicalized) input into a stacked
  * Project: the inner one parses the payload ONCE via [[JsonToStructs]]
  * (`from_json`) with an all-STRING schema of exactly the accessed fields,
  * the outer one replaces each `GetJsonObject` with a struct-field access.
  *
  * Semantics parity with `get_json_object` (each case covered by
  * ViewFusionSpec's truth table): all-string fields make Jackson echo
  * scalars/objects/arrays through the same `copyCurrentStructure` path
  * `GetJsonObject` uses (nested values come back as minified JSON text,
  * numbers normalize identically); NULL payload -> null struct -> null
  * field; malformed payload -> PERMISSIVE null row -> null field; missing
  * key / JSON `null` -> null. Single-level BRACKET paths (`$['name']` — the
  * reference's quoted-field escape for names needing quoting,
  * sttm_to_flink_v22.py:54-67) fuse too: the bracket selector names a
  * literal top-level key, which is exactly a StructField name (dots/spaces
  * inside the quotes are literal key characters, not path steps), so the
  * substitution is identical to the dot case. Measured before extending
  * (VERDICT r10 #7, sf0.1 width 33, BASELINE.md round-11 third wave): 30 simple + 3
  * bracket paths paid 1 wide + 3 narrow parses = 2.95 s vs 1.75 s
  * all-fused — a 1.69x tax on the realistic mixed workbook, gone after
  * this extension. Remaining exotic paths (nested dots `$.a.b`, array
  * steps `$[0]`) are left as `get_json_object` — the planned fallback;
  * their fused form needs nested schemas, and no reference STTM emits them.
  *
  * Deliberate non-fusion: the demux Filter's single discriminator access
  * (`JSON_VALUE(payload,'$.tbl') = 'x'`) stays on `get_json_object` even
  * though it re-parses the payload the Project then parses again. Folding
  * it in would move the wide all-fields parse BELOW the filter, paying it
  * on every row instead of survivors: with per-field single-access cost
  * ~f and k-field parse ~F (measured F ≈ 3f at k = 32), the current plan
  * costs N·f + s·N·F vs the folded N·F — a REGRESSION whenever
  * selectivity s < 1 − f/F ≈ 2/3, and multi-entity demux typically keeps
  * 1/#entities of the stream. No static signal distinguishes the cases,
  * so the filter access is left narrow by design.
  *
  * Known, pinned divergence: an object with DUPLICATE keys (invalid per
  * RFC 8259 §4, undetectable statically) yields the FIRST occurrence from
  * `get_json_object` (streaming first-match) but the LAST from the fused
  * `from_json` (row-builder overwrite). ViewFusionSpec pins both behaviors.
  *
  * Installed via `spark.experimental.extraOptimizations`, which runs AFTER
  * Spark's own `OptimizeCsvJsonExprs` batch — important, because that rule
  * would otherwise split `GetStructField(JsonToStructs(wide))` back into one
  * narrow parse per column. The two-level Project also can't be re-collapsed:
  * no optimizer batch runs after ours (AQE's re-optimizer uses its own fixed
  * rule list).
  */
object FuseJsonAccess extends Rule[LogicalPlan] {

  private val SimpleDotPath = """^\$\.([A-Za-z_][A-Za-z0-9_]*)$""".r
  // single-level quoted bracket selector: a LITERAL top-level key (allow-
  // listed charset; dots/spaces here are key characters, not path steps)
  private val BracketPath = """^\$\['([A-Za-z0-9_ .\-]+)'\]$""".r

  /** Install into the session's extraOptimizations exactly once, with
    * [[PruneLatestPayload]] after it: a latest-by-key reader that takes a
    * few fields of the row then drops the parse this rule fuses. */
  def install(spark: SparkSession): Unit = synchronized {
    val cur = spark.experimental.extraOptimizations
    val missing = Seq(this, PruneLatestPayload).filterNot(cur.contains)
    if (missing.nonEmpty)
      spark.experimental.extraOptimizations = cur ++ missing
  }

  private def simplePath(path: Expression): Option[String] = path match {
    case Literal(p: UTF8String, StringType) =>
      p.toString match {
        case SimpleDotPath(name) => Some(name)
        case BracketPath(name) => Some(name)
        case _ => None
      }
    case _ => None
  }

  /** A json input is fuseable when deterministic and not itself built from
    * another JSON access (keeps substitution single-pass and predictable). */
  private def fuseableInput(json: Expression): Boolean =
    json.deterministic && !json.exists(_.isInstanceOf[GetJsonObject])

  private def collectAccesses(
      es: Seq[Expression], key: Expression => Expression,
      fields: mutable.LinkedHashMap[Expression, mutable.LinkedHashSet[String]],
      reprs: mutable.HashMap[Expression, Expression]): Unit =
    es.foreach(_.foreach {
      case GetJsonObject(json, path) if fuseableInput(json) =>
        simplePath(path).foreach { name =>
          val k = key(json)
          if (k.deterministic && !k.exists(_.isInstanceOf[GetJsonObject])) {
            val c = k.canonicalized
            fields.getOrElseUpdate(c, mutable.LinkedHashSet.empty) += name
            reprs.getOrElseUpdate(c, k)
          }
        }
      case _ => ()
    })

  private def mkParsed(
      groups: collection.Map[Expression, mutable.LinkedHashSet[String]],
      reprs: collection.Map[Expression, Expression])
      : Map[Expression, (NamedExpression, StructType)] =
    groups.zipWithIndex.map { case ((canon, names), i) =>
      val schema = StructType(
        names.toSeq.map(n => StructField(n, StringType, nullable = true)))
      val toStructs = org.apache.spark.sql.catalyst.expressions.JsonToStructs(
        schema, Map.empty[String, String], reprs(canon),
        Some(conf.sessionLocalTimeZone), false)
      canon -> (Alias(toStructs, s"_graft_json_$i")(), schema)
    }.toMap

  private def rewrite(
      es: Seq[NamedExpression], key: Expression => Expression,
      parsed: Map[Expression, (NamedExpression, StructType)]): Seq[NamedExpression] =
    es.map(_.transformUp {
      case g @ GetJsonObject(json, path) if fuseableInput(json) =>
        (simplePath(path), parsed.get(key(json).canonicalized)) match {
          case (Some(name), Some((alias, schema)))
              if schema.fieldNames.contains(name) =>
            GetStructField(alias.toAttribute, schema.fieldIndex(name), Some(name))
          case _ => g
        }
    }.asInstanceOf[NamedExpression])

  /** Fuse accesses split across two adjacent Projects — the shape Spark's
    * own RewriteWithExpression produces for the compiler's
    * `NULLIF(TRIM(JSON_VALUE(..)), '')` columns: the hoisted common-exprs
    * land in a lower Project (payload alias inlined), the plain-STRING
    * columns stay in the upper one. Upper inputs are canonicalized modulo
    * the lower project's aliases so both levels group together; the single
    * parse is planted below the lower Project. */
  private def fuseAcross(upper: Seq[NamedExpression], lower: Seq[NamedExpression],
                         child: LogicalPlan): Option[LogicalPlan] = {
    val defs: Map[Long, Expression] = lower.collect {
      case a: Alias => a.exprId.id -> a.child
    }.toMap
    val subst: Expression => Expression = e => e.transformUp {
      case ar: Attribute if defs.contains(ar.exprId.id) => defs(ar.exprId.id)
    }
    val fields = mutable.LinkedHashMap.empty[Expression, mutable.LinkedHashSet[String]]
    val reprs = mutable.HashMap.empty[Expression, Expression]
    val upperFields = mutable.LinkedHashMap.empty[Expression, mutable.LinkedHashSet[String]]
    collectAccesses(lower, identity, fields, reprs)
    collectAccesses(upper, subst, fields, reprs)
    collectAccesses(upper, subst, upperFields, mutable.HashMap.empty)
    // only groups referenced from the upper level and evaluable at `child`
    // are ours; pure-lower groups belong to the per-project pass.
    val groups = fields.filter { case (c, names) =>
      names.size >= 2 && upperFields.contains(c) &&
        reprs(c).references.subsetOf(child.outputSet)
    }
    if (groups.isEmpty) None
    else {
      val parsed = mkParsed(groups, reprs)
      // The parse alias gets its OWN Project below the rewritten lower one:
      // rewrite(lower) references the parse attribute, so defining the alias
      // in the same Project would be an invalid sibling reference (binds fine
      // at analysis replay but fails BindReferences at execution whenever the
      // hoisted common-expr column is materialized).
      val parseAliases = parsed.values.map(_._1).toSeq
      val lowest = Project(child.output ++ parseAliases, child)
      val lowerNew =
        rewrite(lower, identity, parsed) ++ parseAliases.map(_.toAttribute)
      val upperNew = rewrite(upper, subst, parsed)
      Some(Project(upperNew, Project(lowerNew, lowest)))
    }
  }

  /** Fuse accesses within one Project: one parse per distinct input, planted
    * in an inserted child Project. */
  private def fuseWithin(p: Project): LogicalPlan = {
    val fields = mutable.LinkedHashMap.empty[Expression, mutable.LinkedHashSet[String]]
    val reprs = mutable.HashMap.empty[Expression, Expression]
    collectAccesses(p.projectList, identity, fields, reprs)
    val groups = fields.filter(_._2.size >= 2)
    if (groups.isEmpty) p
    else {
      val parsed = mkParsed(groups, reprs)
      val outer = rewrite(p.projectList, identity, parsed)
      val innerOut: Seq[NamedExpression] =
        p.child.output ++ parsed.values.map(_._1).toSeq
      Project(outer, Project(innerOut, p.child))
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val crossed = plan.transformDown {
      case p @ Project(upper, Project(lower, child)) =>
        fuseAcross(upper, lower, child).getOrElse(p)
    }
    crossed.transformUp { case p: Project => fuseWithin(p) }
  }
}
