package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry query: its name, the Spark plan it runs over an sf
  * directory, and the DuckDB SQL that recomputes its answer from the same
  * parquet tables.
  *
  * Conventions shared by every run/oracle pair (hash-compare safety):
  *  - identical column names and order on both sides, all lowercase;
  *  - float outputs rounded (sum-order FP noise ≪ rounding step);
  *  - integral aggregates cast to BIGINT on both sides (DuckDB SUM returns
  *    HUGEINT otherwise);
  *  - deterministic ORDER BY on a unique prefix in both engines.
  *
  * Trace-operator queries run the real engine on deterministic traces
  * derived from orders/lineitem/events ([[graft.demo.TraceGen]]) whose
  * ground truth is relationally known — the oracle recomputes the answer
  * straight from the base tables, never re-implementing the stack
  * semantics. */
final case class Case(name: String,
                      run: (SparkSession, String) => DataFrame,
                      oracle: String)

/** A family of cases, one file each; `title` heads its section of the
  * operator index (docs/OPERATORS.md). */
abstract class Family(val title: String) {
  def cases: Seq[Case]
}

object Case {
  /** The cases of `families` in order; a name registered twice is an
    * error, so a name keys exactly one plan and one oracle. */
  def concat(families: Seq[Family]): Seq[Case] = {
    val all = families.flatMap(_.cases)
    val dups = all.groupBy(_.name).collect { case (n, cs) if cs.size > 1 => n }
    require(dups.isEmpty,
      s"registry names defined twice: ${dups.toSeq.sorted.mkString(", ")}")
    all
  }
}
