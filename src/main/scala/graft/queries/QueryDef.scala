package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** How `graft.Bench` times a query. */
sealed trait BenchRole

/** Timed in Bench's full-set pass. */
case object Timed extends BenchRole

/** A commit-bound streaming replay: timed in the full set, then timed again
  * back-to-back in Bench's quiet tail, after the full set, with nothing
  * interleaved. These are the noisiest rows of every round record (~1.5x
  * swings between host windows on unchanged code), so a mover can be
  * judged against its isolated median as well. */
case object Isolated extends BenchRole

/** A ground-truth audit whose whole point is an exact full-corpus pass
  * (e.g. `q_lsh_recall` grades the LSH pipeline against the exact
  * similarity join). At production scale such an audit runs offline on a
  * corpus slice, so Bench does not time it; the correctness gate still
  * checks it against its oracle. */
case object Audit extends BenchRole

/** One registered query: its Spark build and its DuckDB mirror, side by
  * side. `layer` names the pipeline layer the query exercises. Column names
  * and types agree between `build` and `oracle` (the oracle compare sorts
  * columns by name and hash-compares values); timestamps leave both sides as
  * `unix_micros` BIGINT or DATE. */
final case class QueryDef(name: String, layer: String, oracle: String,
                          bench: BenchRole)(
    val build: (SparkSession, String) => DataFrame)

/** One layer's queries; the layer tag is set once, here. */
abstract class QueryLayer(layer: String) {
  def defs: Seq[QueryDef]

  protected def query(name: String, bench: BenchRole = Timed)(oracle: String)(
      build: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, layer, oracle, bench)(build)
}

object QueryDef {

  /** The layers' queries concatenated in order. Fails if a name is defined
    * twice, naming the layers of both definitions: a map keyed by name
    * would silently keep only one of them. */
  def registry(layers: Seq[QueryLayer]): Seq[QueryDef] = {
    val all = layers.flatMap(_.defs)
    val dups = all.groupBy(_.name).collect {
      case (name, ds) if ds.size > 1 => s"$name (${ds.map(_.layer).mkString(", ")})"
    }
    require(dups.isEmpty, s"query defined more than once: ${dups.toSeq.sorted.mkString("; ")}")
    all
  }
}
