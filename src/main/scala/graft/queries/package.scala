package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The declared query surface. Each module (`Relational`, `TextOps`, …)
  * exposes `all: Seq[Query]`; [[graft.SparkEntry]] lists the modules
  * once and merges them into the registry.
  */
package object queries {

  /** A query body over (session, testdata dir). */
  type Run = (SparkSession, String) => DataFrame

  /** One declared query. `oracle` is the DuckDB SQL the result is
    * hash-compared against, or None where no portable
    * cross-engine definition exists (approximate sketches, iterative
    * float averaging, deflate output): those get a rows-only check and
    * their semantics are pinned in ScalaTest instead.
    */
  final case class Query(name: String, run: Run, oracle: Option[String])

  /** A query with its oracle. */
  def q(name: String)(run: Run, oracle: String): Query = Query(name, run, Some(oracle))

  private val cosineSqlBody =
    """list_sum(list_transform(generate_series(1, len(@B@)), i -> CAST(@A@[i] AS DOUBLE) * CAST(@B@[i] AS DOUBLE)))
      | / (sqrt(list_sum(list_transform(@A@, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |   * sqrt(list_sum(list_transform(@B@, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin

  /** DuckDB twin of the engine's cosine contract, rounded to 6
    * decimals so summation order cannot flip a comparison: explicit
    * double math over two list expressions `a` and `b`. */
  private[queries] def cosineSql(a: String, b: String): String =
    s"round(${cosineSqlBody.replace("@A@", a).replace("@B@", b)}, 6)"
}
