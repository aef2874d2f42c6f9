package graft
package keys

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query key of the driver contract (PAPER.md §2): its DataFrame
  * builder, the DuckDB oracle SQL the driver hash-compares it with,
  * and whether `Bench` times it.
  *
  * The rule: every key is declared exactly once, in the registry of its
  * operator family, and carries either its oracle SQL or the reason it
  * has none (a rows-only slot, gated by its spec instead). [[SparkEntry]]
  * derives `queries`, `oracleSql` and the bench lists from these
  * declarations and fails on a key declared twice. */
final case class Key(name: String, build: Key.Builder, oracle: Key.Oracle,
                     benchExcluded: Option[String] = None) {
  /** Leaves the key out of `Bench.headline`; the reason is emitted in
    * every bench artifact. */
  def excluded(reason: String): Key = copy(benchExcluded = Some(reason))
}

object Key {
  type Builder = (SparkSession, String) => DataFrame

  sealed trait Oracle
  /** Oracle text, built only when `SparkEntry.oracleSql` is first read,
    * so building a query never builds SQL. */
  final case class Sql(text: () => String) extends Oracle
  final case class RowsOnly(reason: String) extends Oracle
}

/** One operator family's registry: its keys in declaration order, and
  * the constants and SQL fragments that only its builders and oracles
  * use. */
trait Family {
  def keys: Seq[Key]

  def name: String = getClass.getSimpleName.stripSuffix("$")

  protected def key(name: String, build: Key.Builder)(sql: => String): Key =
    Key(name, build, Key.Sql(() => sql))

  protected def rowsOnly(name: String, build: Key.Builder)(reason: String): Key =
    Key(name, build, Key.RowsOnly(reason))
}
