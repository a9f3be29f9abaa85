package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: its name, the builder that runs it over a
  * scale-factor directory, and the DuckDB SQL its result is hash-checked
  * against. Each suite declares its queries once, as one `Seq[QueryDef]`
  * placed after the oracle helper vals its SQL uses: an object's vals
  * initialise in order, so a forward reference would put `null` into the
  * SQL text. [[graft.SparkEntry]] concatenates the suites' lists. */
final case class QueryDef(name: String, build: (SparkSession, String) => DataFrame,
    oracle: String)

/** DuckDB spellings used by the oracles of more than one suite. */
object OracleFragments {

  /** `TextOps.tokens`: split on single spaces, empty tokens dropped. */
  val toksSql = "list_filter(string_split(text, ' '), t -> t <> '')"

  /** `graft_fingerprint` of the string expression `v`: the base-31 code
    * point fold modulo 1e9+7. */
  def foldSql(v: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($v, ''), ch -> CAST(unicode(ch) AS BIGINT))), " +
      s"(a, b) -> (a * 31 + b) % 1000000007)"

  /** `graft_log2_millis(q)` for q > 0: 1000 × the bit length minus one,
    * plus the piecewise-linear fraction. The enclosing parentheses
    * matter: oracles subtract it inline, and an unparenthesized
    * `a + b - c + d` flips the second fraction. */
  def log2MillisSql(q: String): String =
    s"(CAST((length(bin($q)) - 1) * 1000 AS BIGINT) + " +
      s"(($q - (CAST(1 AS BIGINT) << (length(bin($q)) - 1))) * 1000) // " +
      s"(CAST(1 AS BIGINT) << (length(bin($q)) - 1)))"
}
