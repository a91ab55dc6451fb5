package graft

/** Driver-contract invariants: the flagship entry returns rows, every
  * oracle key has a matching query, and query names are stable
  * identifiers.
  */
class ContractSpec extends SparkSpec {

  test("entry (flagship) returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query; names are well-formed") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert((os -- qs).isEmpty, s"oracles without queries: ${os -- qs}")
    assert(qs.forall(_.matches("[a-z0-9_]+")))
    // surface size guard: would catch an accidental map-merge clobber
    assert(qs.size >= 80, s"query surface shrank: ${qs.size}")
    assert(os.size >= 75, s"oracle surface shrank: ${os.size}")
  }

  test("query names are unique across modules (map merge cannot clobber)") {
    // a plain map merge silently keeps one of two same-named queries
    // (a second q_source_overlap once nearly shipped); the registry
    // refuses the duplicate and names both modules
    import graft.queries.Query
    def dummy(sql: String) = Query("q_dup", (s, _) => s.range(1).toDF(), Some(sql))
    val e = intercept[IllegalArgumentException](
      SparkEntry.registry(Seq("ModA" -> Seq(dummy("SELECT 1")), "ModB" -> Seq(dummy("SELECT 2")))))
    assert(e.getMessage.contains("q_dup") && e.getMessage.contains("ModA") &&
      e.getMessage.contains("ModB"), e.getMessage)
    assert(SparkEntry.registry(Seq("ModA" -> Seq(dummy("SELECT 1")))).keySet == Set("q_dup"))
  }

  test("exactly the three engine-specific queries have no oracle") {
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet ==
      Set("q_approx_distinct", "q_kmeans", "q_compress_ratio"))
  }

  test("all queries execute at sf0.001 and their schemas have no duplicate columns") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf())
      val cols = df.columns
      assert(cols.distinct.length == cols.length, s"$name has duplicate columns")
    }
  }

  test("no oracle-gated query emits a decimal output without a green driver precedent") {
    // The driver's decimal canonicalization has hash-rejected
    // value-identical outputs THREE rounds running — q_source_drift
    // (DECIMAL(38,0), r14+r15) and q_class_separation (DECIMAL(18,6),
    // r16) — while the local typed gate stayed green each time, so
    // the r15 "precision <= 18" rule was demonstrably too loose. The
    // only decimal shape with a green driver record is DECIMAL(13,9)
    // (q_temp_mix). Any OTHER decimal-typed output column is a
    // driver-risk and fails here: re-pin it on BIGINT micro-units
    // (floor(x*1e6+0.5) — the q_class_separation fix) or on the
    // proven (13,9) shape, and extend this allowlist only after the
    // new shape has a green driver round behind it.
    import org.apache.spark.sql.types.DecimalType
    val greenPrecedents = Set((13, 9))
    SparkEntry.queries.filterKeys(SparkEntry.oracleSql.contains)
      .foreach { case (name, fn) =>
        fn(spark, sf()).schema.fields.foreach { f =>
          f.dataType match {
            case d: DecimalType =>
              assert(greenPrecedents.contains((d.precision, d.scale)),
                s"$name.${f.name} is DECIMAL(${d.precision},${d.scale}) — " +
                  "no green driver precedent for this decimal shape " +
                  "(three decimal-typed driver reds in rounds 14-16); " +
                  "re-pin on BIGINT micro-units or DECIMAL(13,9)")
            case _ =>
          }
        }
      }
  }
}
