package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** The query contract — see SURVEY.md §7.
  *
  * Each entry in [[queries]] is one operator from SURVEY.md §2 (or a
  * beyond-parity training-data operator) expressed as a Catalyst-native
  * DataFrame plan over the driver testdata; [[oracleSql]] holds the
  * DuckDB-equivalent SQL the driver hash-compares against.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** Merges named modules' queries by name; a name declared twice
    * fails, naming both modules (a plain map merge would keep one
    * silently). */
  def registry(modules: Seq[(String, Seq[Query])]): Map[String, Query] = {
    val declared = for ((module, qs) <- modules; q <- qs) yield (module, q)
    declared.groupBy(_._2.name).foreach { case (name, ds) =>
      require(ds.size == 1, s"query '$name' declared in ${ds.map(_._1).mkString(" and ")}")
    }
    declared.map { case (_, q) => q.name -> q }.toMap
  }

  /** Every query module, listed once. */
  private lazy val registered: Map[String, Query] = registry(Seq(
    "Relational" -> Relational.all,
    "TextOps" -> TextOps.all,
    "VectorOps" -> VectorOps.all,
    "MediaOps" -> MediaOps.all,
    "Extra" -> Extra.all,
    "Temporal" -> Temporal.all,
    "TextOps2" -> TextOps2.all,
    "TextOps3" -> TextOps3.all,
    "TextOps4" -> TextOps4.all,
    "TextOps5" -> TextOps5.all,
    "TextOps6" -> TextOps6.all,
    "TextOps7" -> TextOps7.all,
    "TextOps8" -> TextOps8.all,
    "GraphOps" -> GraphOps.all))

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registered.map { case (name, q) => name -> q.run }

  lazy val oracleSql: Map[String, String] =
    registered.collect { case (name, Query(_, _, Some(sql))) => name -> sql }
}
