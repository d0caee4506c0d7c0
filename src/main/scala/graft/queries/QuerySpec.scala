package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: its name, the gate, how the bench times it, and the
  * DuckDB SQL it is checked against.
  *
  * @param build   the gate: `(spark, sfDir) => result`; Verify writes its
  *                rows and Preflight analyzes it.
  * @param bench   an untimed prepare returning the timed thunk, for queries
  *                whose bench differs from the gate. Two reasons occur:
  *                 - the bench times the PRODUCTION path (xxhash64 hashes,
  *                   plain map-side sums) where the gate runs a
  *                   deterministic twin that exists so the SQL oracle can
  *                   replay it bit-for-bit (md5-prefix hashes, ~5× slower
  *                   in q26/q36; sorted folds);
  *                 - the query measures a store lifecycle (q08, q38, the
  *                   index probes), and the priming write that creates the
  *                   "previous state" is test setup, not the operator under
  *                   measurement.
  *                Without one, the whole `build` runs inside the timed region.
  * @param oracle  the DuckDB SQL the gate rows are compared against.
  * @param benched false for a verify-only probe the bench must skip.
  */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    bench: Option[(SparkSession, String) => () => DataFrame] = None,
    oracle: Option[String] = None,
    benched: Boolean = true) {
  require(benched || bench.isEmpty, s"$name is not benched but has a bench prepare")

  /** The bench's `prepare(spark, sfDir)` → timed thunk. */
  def prepare: (SparkSession, String) => () => DataFrame =
    bench.getOrElse((s, dir) => () => build(s, dir))
}

object QuerySpec {
  /** The specs in order, after checking that no name repeats. */
  def registry(specs: Seq[QuerySpec]): Seq[QuerySpec] = {
    val repeated = specs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(repeated.isEmpty,
      s"query names declared more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    specs
  }
}
