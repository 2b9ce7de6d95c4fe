package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Entry points of the query library (SURVEY.md §7).
  *
  * Each query is one operator of SURVEY.md §2 exercised on the generated
  * testdata, defined once in its layer's registry under `graft.queries`
  * together with its DuckDB mirror. [[queries]] and [[oracleSql]] are both
  * derived from [[all]].
  */
object SparkEntry {

  /** Flagship: the full metadata-driven pipeline — STTM spec CSV compiled,
    * validated, and executed through all 3 stages (view parse -> XREF upsert
    * -> FGAC masked enrichment) on sf0.001. Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_sttm_fgac")(spark, "/root/testdata/sf0.001")

  /** Every registered query, layer by layer. */
  val all: Seq[QueryDef] = QueryDef.registry(Seq(
    ViewQueries, XrefQueries, FgacQueries, CompiledQueries, StreamingQueries,
    AnalyticsQueries, NearDupQueries, GraphQueries, VectorQueries, TextQueries,
    CurationQueries, MultimodalQueries))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(d => d.name -> d.build).toMap

  val oracleSql: Map[String, String] = all.map(d => d.name -> d.oracle).toMap

  /** Materialize the session-scoped shared intermediates (near-dup verified
    * pairs + cluster labels) ONCE, serially, before a caller fans queries
    * out across threads. Without this, concurrent first consumers of the
    * memo can race `getOrElseUpdate` and each pay the full
    * signature+LSH+verify build (TrieMap keeps one result but evaluates
    * the by-name default in every racing thread). Verify calls this before
    * its parallel dump; serial callers never need it. */
  def warmShared(s: SparkSession, dir: String): Unit = {
    QuerySupport.nearDupPairs(s, dir)
    QuerySupport.nearDupClusters(s, dir)
  }

  /** Drop this session's memoized intermediates so the next query rebuilds
    * them from source. Used by `graft.Bench` between timing runs so every
    * run pays the full signature+verify cost (apples-to-apples medians). */
  def resetMemos(s: SparkSession): Unit = QuerySupport.resetMemos(s)
}
