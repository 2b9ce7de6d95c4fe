package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{Audit, BenchRole, Isolated, QueryDef, QueryLayer}

/** Invariants of the per-layer query registries behind `SparkEntry`: each
  * query is one record, defined once, carrying its DuckDB mirror and its
  * Bench role. */
class QueryRegistrySpec extends AnyFunSuite {

  private def named(role: BenchRole): Set[String] =
    SparkEntry.all.filter(_.bench == role).map(_.name).toSet

  test("177 distinct query names") {
    assert(SparkEntry.all.size == 177)
    assert(SparkEntry.all.map(_.name).distinct.size == 177)
  }

  test("every query carries a non-empty DuckDB mirror") {
    val empty = SparkEntry.all.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(empty.isEmpty, s"queries without an oracle: $empty")
  }

  test("Audit marks exactly the three recall audits") {
    assert(named(Audit) == Set("q_lsh_recall", "q_ann_gate_recall", "q_dedup_gate_recall"))
  }

  test("Isolated marks exactly the four streaming replays") {
    assert(named(Isolated) == Set("q_stream_sttm", "q_stream_sttm_multi",
      "q_stream_sttm_compiled", "q_stream_range_join"))
  }

  test("queries and oracleSql are keyed by the same names") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet == SparkEntry.all.map(_.name).toSet)
  }

  test("a name defined in two layers fails the registry, naming both layers") {
    class Layer(tag: String, names: String*) extends QueryLayer(tag) {
      def defs: Seq[QueryDef] = names.map(n => query(n)("SELECT 1")((s, _) => s.emptyDataFrame))
    }
    val e = intercept[IllegalArgumentException](QueryDef.registry(Seq(
      new Layer("views", "q_a", "q_b"), new Layer("text", "q_c", "q_b"))))
    assert(e.getMessage.contains("q_b (views, text)"))
    assert(!e.getMessage.contains("q_a"))
    assert(QueryDef.registry(Seq(new Layer("views", "q_a"), new Layer("text", "q_b")))
      .map(_.name) == Seq("q_a", "q_b"))
  }
}
