package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.merge.MergeWriter
import graft.ops.{Extract, Transform}
import graft.scheduler.Schedules

/** Unit + property tests for the operator semantics locked in
  * SURVEY.md §2.9 (bucket edges, try_cast, merge idempotence,
  * schedule next-run clamping).
  */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private def landing(rows: (String, String, String, String)*) =
    rows.toSeq.toDF("order_id", "customer_id", "amount", "order_date")
      .withColumn("run_id", lit("r1"))
      .withColumn("source_type", lit("CSV"))
      .withColumn("raw_payload", lit("{}"))
      .withColumn("loaded_at", current_timestamp())

  test("amount_category boundary values 49.99/50/199.99/200") {
    val df = Seq(49.99, 50.0, 199.99, 200.0).toDF("amount")
      .withColumn("c", Transform.amountCategory($"amount"))
    assert(df.select($"c").as[String].collect().toSeq ==
      Seq("Low", "Medium", "Medium", "High"))
  }

  test("extract: trim, empty→null, UNKNOWN default, strict date, try_cast amount") {
    val ext = Extract.extract(landing(
      ("  ORD-1  ", "  C1  ", " 12.345 ", "2024-02-29"),  // valid leap date; amount rounds
      ("ORD-2", "   ", "abc", "2024-01-01"),              // blank cust → UNKNOWN; bad amount
      ("ORD-3", "C3", "5", "2024-13-01"),                 // bad month
      ("   ", "C4", "1", "2024-01-01")))                  // blank key → dropped
    assert(ext.count() == 3)
    val r1 = ext.filter($"order_id" === "ORD-1").head()
    assert(r1.getAs[java.math.BigDecimal]("amount").toPlainString == "12.35")
    assert(r1.getAs[java.sql.Date]("order_date").toString == "2024-02-29")
    val r2 = ext.filter($"order_id" === "ORD-2").head()
    assert(r2.getAs[String]("customer_id") == "UNKNOWN")
    assert(r2.getAs[String]("reject_reason") == "unparseable_amount")
    assert(ext.filter($"order_id" === "ORD-3").head().getAs[String]("reject_reason") == "unparseable_date")
  }

  test("merge: updates win, inserts added, last-wins on duplicate batch keys, idempotent") {
    val dir = Files.createTempDirectory("graft_merge").toString + "/target"
    def batch(rows: (String, String, Int)*) =
      rows.toSeq.toDF("order_id", "customer_id", "_src_order")
        .select($"order_id", $"customer_id", $"_src_order")

    MergeWriter.merge(spark, dir, batch(("K1", "A", 1), ("K2", "B", 2)), "order_id", "_src_order")
    // K1 updated (duplicate in batch: last wins → "C2"), K3 inserted
    MergeWriter.merge(spark, dir,
      batch(("K1", "C1", 1), ("K1", "C2", 2), ("K3", "D", 3)), "order_id", "_src_order")
    val t = MergeWriter.readTarget(spark, dir).get
    val m = t.select($"order_id", $"customer_id").as[(String, String)].collect().toMap
    assert(m == Map("K1" -> "C2", "K2" -> "B", "K3" -> "D"))

    // idempotence: merge(merge(T,S),S) == merge(T,S) on data columns
    MergeWriter.merge(spark, dir,
      batch(("K1", "C1", 1), ("K1", "C2", 2), ("K3", "D", 3)), "order_id", "_src_order")
    val t2 = MergeWriter.readTarget(spark, dir).get
    assert(t2.select($"order_id", $"customer_id").as[(String, String)].collect().toMap == m)
    assert(MergeWriter.currentVersion(dir) == 2)
  }

  test("schedule next-run: daily rollover, weekly day pick, monthly clamp") {
    import java.time.LocalDateTime
    val now = LocalDateTime.of(2026, 1, 31, 12, 0)
    assert(Schedules.computeNextRun("daily", "13:30", 0, 0, now) ==
      LocalDateTime.of(2026, 1, 31, 13, 30))
    assert(Schedules.computeNextRun("daily", "09:00", 0, 0, now) ==
      LocalDateTime.of(2026, 2, 1, 9, 0))
    // 2026-01-31 is a Saturday; next Sunday (dow=0) is Feb 1
    assert(Schedules.computeNextRun("weekly", "08:00", 0, 0, now) ==
      LocalDateTime.of(2026, 2, 1, 8, 0))
    // monthly day 31 at 11:00 already past on Jan 31 → Feb clamps to 28
    assert(Schedules.computeNextRun("monthly", "11:00", 0, 31, now) ==
      LocalDateTime.of(2026, 2, 28, 11, 0))
    assert(Schedules.computeNextRun("monthly", "13:00", 0, 31, now) ==
      LocalDateTime.of(2026, 1, 31, 13, 0))
  }

  test("property: extract output keys are never blank and amounts parse or reject") {
    val amounts = Gen.oneOf(Gen.choose(-500.0, 500.0).map(_.toString), Gen.const("junk"), Gen.const(""))
    val gen = Gen.listOfN(40, amounts)
    val amts = (1 to 5).flatMap(i => gen.apply(Gen.Parameters.default, Seed(42L + i))).flatten
    val rows = amts.zipWithIndex.map { case (a, i) => (s"K$i", "C", a, "2024-01-01") }
    val ext = Extract.extract(landing(rows: _*))
    val out = ext.select($"order_id", $"amount", $"reject_reason")
      .as[(String, Option[BigDecimal], Option[String])].collect()
    assert(out.length == rows.length)
    out.foreach { case (k, amt, rej) =>
      assert(k.nonEmpty)
      assert(amt.isDefined != rej.contains("unparseable_amount"))
    }
  }

  test("cross-JVM lease: live foreign writer loses cleanly, dead one is taken over") {
    val dir = Files.createTempDirectory("graft_lease").toString + "/target"
    def batch(k: String, c: String) = Seq((k, c, 1)).toDF("order_id", "customer_id", "_src_order")
    MergeWriter.merge(spark, dir, batch("K1", "A"), "order_id", "_src_order")

    // inject a LIVE foreign lease (what a second JVM's writer holds):
    // fresh mtime, not our owner id
    val lf = java.nio.file.Paths.get(dir, "_LEASE")
    Files.writeString(lf, "other-jvm-writer")
    val before = MergeWriter.readTarget(spark, dir).get
      .select($"order_id", $"customer_id").as[(String, String)].collect().toMap
    val beforeVersion = MergeWriter.currentVersion(dir)
    intercept[IllegalStateException] {
      MergeWriter.merge(spark, dir, batch("K1", "B"), "order_id", "_src_order",
        leaseWaitMs = 300)
    }
    // the loser applied nothing: version pointer and rows unchanged
    assert(MergeWriter.currentVersion(dir) == beforeVersion)
    assert(MergeWriter.readTarget(spark, dir).get
      .select($"order_id", $"customer_id").as[(String, String)].collect().toMap == before)
    // the foreign lease is still intact (we must not delete a lease we
    // don't own)
    assert(Files.readString(lf) == "other-jvm-writer")

    // age it past staleness (dead holder: no heartbeat) → taken over
    Files.setLastModifiedTime(lf, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - MergeWriter.LeaseStaleMs - 1000))
    MergeWriter.merge(spark, dir, batch("K1", "C"), "order_id", "_src_order",
      leaseWaitMs = 300)
    assert(MergeWriter.readTarget(spark, dir).get
      .select($"customer_id").as[String].collect().toSeq == Seq("C"))
    // released after the merge: next writer acquires without takeover
    assert(!Files.exists(lf))
  }

  test("merge schema evolution (additive) and time-travel reads") {
    val dir = Files.createTempDirectory("graft_evo").toString + "/target"
    MergeWriter.merge(spark,
      dir, Seq(("K1", "A", 1), ("K2", "B", 2)).toDF("order_id", "customer_id", "_src_order"),
      "order_id", "_src_order")
    // second batch adds a region column: K2 updated, K3 inserted
    MergeWriter.merge(spark,
      dir, Seq(("K2", "B2", "EU", 1), ("K3", "C", "US", 2))
        .toDF("order_id", "customer_id", "region", "_src_order"),
      "order_id", "_src_order")

    val t = MergeWriter.readTarget(spark, dir).get
    val rows = t.select($"order_id", $"customer_id", $"region")
      .collect().map(r => r.getString(0) -> (r.getString(1), Option(r.getString(2)))).toMap
    assert(rows == Map(
      "K1" -> (("A", None)),        // pre-evolution row reads null
      "K2" -> (("B2", Some("EU"))), // updated with the new column
      "K3" -> (("C", Some("US"))))) // inserted with the new column

    // time travel: v0 is the pre-evolution snapshot, schema included
    val v0 = MergeWriter.readTargetAt(spark, dir, 0).get
    assert(v0.count() == 2 && !v0.columns.contains("region"))
    assert(MergeWriter.readTargetAt(spark, dir, 99).isEmpty)

    // compact normalizes mixed-schema buckets; content unchanged
    MergeWriter.compact(spark, dir)
    val afterCompact = MergeWriter.readTarget(spark, dir).get
      .select($"order_id", $"customer_id", $"region")
      .collect().map(r => r.getString(0) -> (r.getString(1), Option(r.getString(2)))).toMap
    assert(afterCompact == rows)
  }

  test("merge schema evolution across carried buckets: recorded schemas, legacy layout, compact") {
    val dir = Files.createTempDirectory("graft_evo_carried").toString + "/target"
    val nB = 16
    // keys of the low buckets (group A) and of buckets no row reaches
    // until the last merge (group B)
    val byBucket = (1 to 400).map(i => s"K$i").toDF("k")
      .select($"k", pmod(hash($"k"), lit(nB))).as[(String, Int)].collect()
    val a = byBucket.filter(_._2 < 4).map(_._1).take(6).toSeq
    val b = byBucket.filter(_._2 >= 12).map(_._1).take(3).toSeq
    def upsert(df: org.apache.spark.sql.DataFrame) =
      MergeWriter.merge(spark, dir, df, "order_id", "_src_order", buckets = nB)
    upsert(a.map(k => (k, "A", 1)).toDF("order_id", "customer_id", "_src_order"))
    // v1 adds a column in two of group A's buckets
    upsert(a.take(2).map(k => (k, "A2", "EU", 1)).toDF("order_id", "customer_id", "region", "_src_order"))
    // v2 touches only group B's (so far empty) buckets, without the new
    // column: group A's buckets, the only ones holding it, are carried
    upsert(b.map(k => (k, "B", 1)).toDF("order_id", "customer_id", "_src_order"))

    val cols = Set("order_id", "customer_id", "region", "migrated_at")
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.select($"order_id", $"customer_id", $"region")
      .collect().map(r => r.getString(0) -> (r.getString(1), Option(r.getString(2)))).toMap
    val expected = (a.drop(2).map(_ -> (("A", None))) ++ a.take(2).map(_ -> (("A2", Some("EU")))) ++
      b.map(_ -> (("B", None)))).toMap
    def check(stage: String): Unit = {
      val t = MergeWriter.readTarget(spark, dir).get
      assert(t.columns.toSet == cols, s"$stage: readTarget columns ${t.columns.mkString(",")}")
      assert(rowsOf(t) == expected, stage)
      val probe = Seq(a.head, a.last, b.head)
      val keyed = MergeWriter.readTargetKeys(spark, dir, probe).get
      assert(keyed.columns.toSet == cols, s"$stage: readTargetKeys columns ${keyed.columns.mkString(",")}")
      assert(rowsOf(keyed) == expected.filter(e => probe.contains(e._1)), stage)
      // B's key alone hits only a bucket written without the column
      assert(MergeWriter.readTargetKeys(spark, dir, Seq(b.head)).get.columns.toSet == cols, stage)
      assert(MergeWriter.readTargetAt(spark, dir, 0).get.columns.toSet == cols - "region", stage)
      assert(MergeWriter.readTargetAt(spark, dir, 1).get.columns.toSet == cols, stage)
      assert(MergeWriter.readTargetAt(spark, dir, 2).get.columns.toSet == cols, stage)
    }
    (0 to 2).foreach(v => assert(Files.exists(Paths.get(dir, s"v$v", "_SCHEMA"))))
    check("recorded schemas")

    // the layout written before schemas were recorded: the readers and
    // the writer refuse it loudly, naming the upgrade
    (0 to 2).foreach(v => Files.delete(Paths.get(dir, s"v$v", "_SCHEMA")))
    def refused(what: String)(f: => Any): Unit = {
      val e = intercept[IllegalStateException](f)
      assert(e.getMessage.contains(s"COMPACT '$dir'"), s"$what: ${e.getMessage}")
    }
    refused("readTarget")(MergeWriter.readTarget(spark, dir))
    refused("readTargetKeys")(MergeWriter.readTargetKeys(spark, dir, Seq(a.head)))
    refused("merge")(upsert(Seq((a.head, "X", 1)).toDF("order_id", "customer_id", "_src_order")))

    // COMPACT upgrades it: the current version reads back in full
    MergeWriter.compact(spark, dir)
    assert(Files.exists(Paths.get(dir, "v3", "_SCHEMA")), "compact records the schema")
    val compacted = MergeWriter.readTarget(spark, dir).get
    assert(compacted.columns.toSet == cols && rowsOf(compacted) == expected)
    val keyed = MergeWriter.readTargetKeys(spark, dir, Seq(a.head, b.head)).get
    assert(keyed.columns.toSet == cols && rowsOf(keyed) == expected.filter(e => Seq(a.head, b.head).contains(e._1)))
    // the _SCHEMA-less versions below it stay refused
    (0 to 2).foreach(v => refused(s"readTargetAt($v)")(MergeWriter.readTargetAt(spark, dir, v)))

    // a target without _BUCKETS records no key to bucket by: readers
    // refuse it, and so does the upgrade
    Files.delete(Paths.get(dir, "_BUCKETS"))
    refused("readTarget without _BUCKETS")(MergeWriter.readTarget(spark, dir))
    val noKey = intercept[IllegalStateException](MergeWriter.compact(spark, dir))
    assert(noKey.getMessage.contains("_BUCKETS"), noKey.getMessage)
  }

  test("merge vacuum never drops referenced versions; compact releases them") {
    val dir = Files.createTempDirectory("graft_vac").toString + "/target"
    def batch(k: String) = Seq((k, "v", 1)).toDF("order_id", "customer_id", "_src_order")
    (1 to 5).foreach(i => MergeWriter.merge(spark, dir, batch(s"K$i"), "order_id", "_src_order"))
    assert(MergeWriter.currentVersion(dir) == 4)
    // single-key merges leave earlier versions referenced by the kept
    // manifests — vacuum must not reclaim them out from under readers
    MergeWriter.vacuum(dir, keep = 2)
    assert(MergeWriter.readTarget(spark, dir).get.count() == 5)
    // compact rewrites all buckets into one self-contained version;
    // the old versions become unreferenced and reclaimable
    MergeWriter.compact(spark, dir)
    assert(MergeWriter.vacuum(dir, keep = 1).nonEmpty)
    assert(MergeWriter.readTarget(spark, dir).get.count() == 5)
    assert(MergeWriter.vacuum(dir, keep = 1).isEmpty) // idempotent
  }

  test("upsert of few keys rewrites only the touched buckets (K2 at scale)") {
    val dir = Files.createTempDirectory("graft_bkt").toString + "/target"
    val init = (1 to 100).map(i => (s"K$i", "A", i)).toDF("order_id", "customer_id", "_src_order")
    MergeWriter.merge(spark, dir, init, "order_id", "_src_order", buckets = 8)
    val v0Buckets = new java.io.File(s"$dir/v0/data").listFiles()
      .map(_.getName).filter(_.startsWith("_bucket=")).toSet
    assert(v0Buckets.size > 1) // 100 keys spread over several buckets

    // one-key upsert: the new version physically holds ONE bucket and
    // points every other bucket at the previous version's files
    MergeWriter.merge(spark, dir,
      Seq(("K1", "B", 1)).toDF("order_id", "customer_id", "_src_order"),
      "order_id", "_src_order")
    val v1Buckets = new java.io.File(s"$dir/v1/data").listFiles()
      .map(_.getName).filter(_.startsWith("_bucket=")).toSet
    assert(v1Buckets.size == 1, s"expected 1 rewritten bucket, got $v1Buckets")
    val manifest = Files.readAllLines(java.nio.file.Paths.get(s"$dir/v1/_MANIFEST"))
    val carried = manifest.stream().filter(_.contains("\tv0/")).count()
    assert(carried == v0Buckets.size - 1)

    val t = MergeWriter.readTarget(spark, dir).get
    assert(t.count() == 100)
    assert(t.filter($"order_id" === "K1").select($"customer_id").as[String].head() == "B")
    assert(t.filter($"order_id" === "K2").select($"customer_id").as[String].head() == "A")

    // the insert-gate and explicit-column-list branches ride the same
    // touched-bucket machinery: a one-key gated merge still rewrites
    // ONE bucket, never the whole target
    MergeWriter.merge(spark, dir,
      Seq(("K1", "C", true, 1)).toDF("order_id", "customer_id", "adm", "_src_order"),
      "order_id", "_src_order", insertCondCol = Some("adm"))
    val v2Buckets = new java.io.File(s"$dir/v2/data").listFiles()
      .map(_.getName).filter(_.startsWith("_bucket=")).toSet
    assert(v2Buckets.size == 1, s"expected 1 rewritten bucket, got $v2Buckets")
  }

  test("bucket files are written key-sorted (row-group skipping layout)") {
    // every part file must be sorted by the key within itself, so
    // parquet row-group min/max stats on the key are tight and a point
    // lookup's pushed filter can skip row groups inside a bucket
    val dir = Files.createTempDirectory("graft_sorted").toString + "/target"
    val init = (1 to 500).map(i => (f"K$i%04d", "A", i)).toDF("order_id", "customer_id", "_src_order")
    MergeWriter.merge(spark, dir, init, "order_id", "_src_order", buckets = 4)
    val walk = Files.walk(java.nio.file.Paths.get(dir))
    val parts =
      try {
        val it = walk.iterator()
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) {
          val p = it.next().toString
          if (p.contains("_bucket=") && p.endsWith(".parquet")) buf += p
        }
        buf.toSeq
      } finally walk.close()
    assert(parts.nonEmpty)
    parts.foreach { p =>
      val keys = spark.read.parquet(p).select($"order_id").as[String].collect().toSeq
      assert(keys == keys.sorted, s"unsorted bucket file $p")
    }
  }

  test("concurrent point lookups see only committed snapshots, never torn state") {
    // the reader contract the pruning rule and the TVF both rest on:
    // one _CURRENT resolve per read, immutable per-version manifests —
    // so a lookup racing a merge returns SOME fully-committed version,
    // never a mix of two. Each merge below rewrites EVERY key with one
    // tag, so any torn read would surface as two tags in one result.
    val dir = Files.createTempDirectory("graft_consistency").toString + "/t"
    val keys = (0L until 100L)
    def batch(tag: String) = keys.map(k => (k, tag)).toDF("k", "v")
      .withColumn("ord", lit(1))
    MergeWriter.merge(spark, dir, batch("t0"), "k", "ord", buckets = 8)
    @volatile var writerDone = false
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = new Thread(() => {
      val rnd = new scala.util.Random(7)
      try while (!writerDone) {
        val want = Seq.fill(5)(rnd.nextInt(100).toLong).distinct
        val rows = MergeWriter.readTargetKeys(spark, dir, want).get
          .select($"k", $"v").as[(Long, String)].collect()
        if (rows.map(_._1).toSet != want.toSet)
          bad.add(s"missing keys: got ${rows.length} of ${want.size}")
        if (rows.map(_._2).distinct.length > 1)
          bad.add(s"torn read across versions: ${rows.map(_._2).distinct.toSeq}")
        reads.incrementAndGet(): Unit
      } catch { case e: Throwable => bad.add(s"reader threw: ${e.getMessage}") }
    }, "graft-consistency-reader")
    reader.start()
    try (1 to 4).foreach(i => MergeWriter.merge(spark, dir, batch(s"t$i"), "k", "ord", buckets = 8))
    finally writerDone = true
    reader.join(120000)
    assert(!reader.isAlive, "reader did not finish")
    assert(bad.isEmpty, {
      val it = bad.iterator(); val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) buf += it.next(); buf.mkString("; ")
    })
    assert(reads.get() > 0, "reader never completed a lookup during the merges")
    // final state: the last merge's tag everywhere
    assert(MergeWriter.readTarget(spark, dir).get
      .select($"v").distinct().as[String].collect().toSeq == Seq("t4"))
  }

  test("Tables.events pins UTC: a non-UTC session reads the same instants") {
    // Tables.events casts NTZ wall time to a session-TZ timestamp; that
    // cast is only instant-preserving under UTC, so events() pins the
    // session timezone itself. A caller-built session in another zone
    // must therefore see byte-identical instants, not a shifted clock.
    def checksum(s: org.apache.spark.sql.SparkSession): (Long, Long) = {
      val d = graft.Tables.t(s, sf(), "events")
        .agg(sum(unix_micros(col("ts"))), count(lit(1)))
      val r = d.collect().head
      (r.getLong(0), r.getLong(1))
    }
    val utc = checksum(spark)
    val foreign = spark.newSession()
    foreign.conf.set("spark.sql.session.timeZone", "America/New_York")
    assert(checksum(foreign) == utc,
      "events instants shifted under a non-UTC caller session")
  }

  test("ksDriftByGroup: hand-computed exact KS numerators, deterministic arg-max") {
    import spark.implicits._
    // A = {1,2}, B = {2,3,4}: sup|F_A - F_B| = 2/3 at value 2 — the
    // numerator on the 2·3 denominator is 4, symmetric for both groups
    val df = Seq(("A", 1L), ("A", 2L), ("B", 2L), ("B", 3L), ("B", 4L))
      .toDF("source", "len")
    val r = graft.ops.Profile.ksDriftByGroup(df, "source", "len")
      .collect().map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))).toMap
    assert(r == Map("A" -> ((2L, 3L, 4L, 2L)), "B" -> ((3L, 2L, 4L, 2L))), r.toString)
    // identical distributions → numerator 0 (ks_at = smallest value)
    val same = Seq(("X", 5L), ("X", 7L), ("Y", 5L), ("Y", 7L)).toDF("source", "len")
    val r2 = graft.ops.Profile.ksDriftByGroup(same, "source", "len")
      .collect().map(x => x.getString(0) -> ((x.getLong(3), x.getLong(4)))).toMap
    assert(r2 == Map("X" -> ((0L, 5L)), "Y" -> ((0L, 5L))), r2.toString)
  }

  test("spearman Σd² survives past the old 2e6-doc int64 guard (DECIMAL escape)") {
    import org.apache.spark.sql.functions._
    // n = 2,000,001 docs with fully REVERSED ranks — the worst case:
    // Σd² = n(n²−1)/3 ≈ 2.67e18, already unrepresentable as a naive
    // int64 partial beyond ~2e6 docs in general position (r17's guard
    // refused here). The DECIMAL(38,0) path must produce the closed
    // form exactly, split into hi/lo BIGINTs.
    val n = 2000001L
    spark.range(n).selectExpr("id AS doc_id", "id AS rank_a",
        s"$n - 1 - id AS rank_b")
      .createOrReplaceTempView("_sp_ranks")
    val r = spark.sql(
      """SELECT n_docs,
        |  cast(_d2 div 1000000000000000000 as long) AS hi,
        |  cast(_d2 % 1000000000000000000 as long) AS lo
        |FROM (SELECT count(*) AS n_docs,
        |        sum(cast(rank_a - rank_b as decimal(19,0)) *
        |          (rank_a - rank_b)) AS _d2
        |      FROM _sp_ranks)""".stripMargin).collect()
    val expect = (BigInt(n) * (BigInt(n) * n - 1)) / 3
    assert(r.length == 1)
    assert(BigInt(r(0).getLong(1)) * BigInt("1000000000000000000")
      + r(0).getLong(2) == expect,
      s"hi/lo recombination != n(n²−1)/3: ${r(0)}")
  }

  test("bloom-pruned joins are bit-identical to the plain joins, empty dim included") {
    import graft.operators.BloomJoin
    val spark2 = spark; import spark2.implicits._
    val fact = (1L to 2000L).map(k => (k, k % 97)).toDF("row_id", "k")
    val dim = (0L to 96L by 3).toDF("dk") // every third residue
    def keys(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("row_id").collect().map(_.getLong(0)).toSet
    val plainSemi = keys(fact.join(dim.withColumnRenamed("dk", "k"), Seq("k"), "left_semi"))
    val plainAnti = keys(fact.join(dim.withColumnRenamed("dk", "k"), Seq("k"), "left_anti"))
    assert(keys(BloomJoin.semiJoin(fact, dim, "k", "dk", 1000L)) == plainSemi)
    assert(keys(BloomJoin.antiJoin(fact, dim, "k", "dk", 1000L)) == plainAnti)
    assert(plainSemi.nonEmpty && plainAnti.nonEmpty &&
      (plainSemi ++ plainAnti).size == 2000)
    // inner join carries dim columns through
    val inner = BloomJoin.innerJoin(fact, dim, "k", "dk", 1000L)
    assert(inner.columns.toSet == Set("row_id", "k", "dk"))
    assert(keys(inner) == plainSemi)
    // a TINY sketch (high FP rate) changes nothing — positives are
    // always confirmed exactly
    assert(keys(BloomJoin.antiJoin(fact, dim, "k", "dk", 1000L, numBits = 64L))
      == plainAnti)
    // empty dim: anti keeps everything (constant-false probe, no join),
    // semi/inner keep nothing
    val empty = dim.filter($"dk" < 0L)
    assert(keys(BloomJoin.antiJoin(fact, empty, "k", "dk", 1000L)).size == 2000)
    assert(BloomJoin.semiJoin(fact, empty, "k", "dk", 1000L).count() == 0L)
    assert(BloomJoin.innerJoin(fact, empty, "k", "dk", 1000L).count() == 0L)
    // NULL join keys: might_contain(NULL) is NULL, which would fail
    // both probe branches — the anti join must still keep NULL-key
    // rows (NULL never matches, so they are definite misses), matching
    // the plain left-anti join bit-for-bit
    val withNull = fact.unionByName(
      Seq((9001L, Option.empty[Long]), (9002L, Option.empty[Long]))
        .toDF("row_id", "k"))
    val plainAntiN = keys(withNull.join(
      dim.withColumnRenamed("dk", "k"), Seq("k"), "left_anti"))
    assert(plainAntiN.contains(9001L) && plainAntiN.contains(9002L))
    assert(keys(BloomJoin.antiJoin(withNull, dim, "k", "dk", 1000L)) == plainAntiN)
    // semi/inner drop NULL keys, same as the plain joins
    assert(keys(BloomJoin.semiJoin(withNull, dim, "k", "dk", 1000L)) == plainSemi)
    assert(keys(BloomJoin.innerJoin(withNull, dim, "k", "dk", 1000L)) == plainSemi)
  }

  test("Expect: violation counts per check, one-agg row grain, FK orphans") {
    import graft.ops.Expect
    val spark2 = spark; import spark2.implicits._
    val df = Seq(
      (Some(1L), 10L, "A"), (Some(2L), 60L, "B"), (None: Option[Long], 5L, "A"),
      (Some(1L), 20L, "zz"), (Some(4L), 0L, "A"))
      .toDF("k", "qty", "flag")
    val dim = Seq(1L, 2L).toDF("pk")
    val out = Expect.run(df, Seq(
        Expect.NotNull("k"),
        Expect.InRange("qty", 1L, 50L),
        Expect.Matches("flag", "[AB]"),
        Expect.Unique(Seq("k")),
        Expect.RefIntegrity("k", dim, "pk")))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out == Map(
      "not_null:k" -> ((5L, 1L, false)),
      "in_range:qty" -> ((5L, 2L, false)),      // 60 and 0
      "matches:flag" -> ((5L, 1L, false)),      // zz
      "unique:k" -> ((5L, 1L, false)),          // k=1 twice
      "ref:k" -> ((5L, 1L, false))), out.toString) // k=4 orphan (null k skipped)
    // a clean frame passes everything
    val clean = Expect.run(df.filter($"k" === 2L), Seq(
      Expect.NotNull("k"), Expect.Unique(Seq("k")),
      Expect.RefIntegrity("k", dim, "pk")))
    assert(clean.collect().forall(_.getBoolean(3)))
  }

  test("goldenRecord fuses most-recent-non-null per attribute in one pass") {
    import graft.dedup.GoldenRecord
    val spark2 = spark; import spark2.implicits._
    val rows = Seq(
      // cluster 1: v3 newest but null addr → addr from v2, seg from v3
      (1L, 1L, Some("a1"), Some("s1")),
      (1L, 2L, Some("a2"), None: Option[String]),
      (1L, 3L, None: Option[String], Some("s3")),
      // cluster 2: all-null attribute stays null; single attr fused
      (2L, 1L, None: Option[String], Some("sx")),
      (2L, 2L, None: Option[String], None: Option[String]))
      .toDF("cluster", "version", "addr", "seg")
    val out = GoldenRecord.fuse(rows, "cluster", Seq("addr", "seg"),
        org.apache.spark.sql.functions.col("version"))
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getString(1)), Option(r.getString(2)), r.getLong(3)))).toMap
    assert(out == Map(
      1L -> ((Some("a2"), Some("s3"), 3L)),
      2L -> ((None, Some("sx"), 2L))), out.toString)
    // partition invariance
    val out2 = GoldenRecord.fuse(rows.repartition(7), "cluster", Seq("addr", "seg"),
        org.apache.spark.sql.functions.col("version"))
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getString(1)), Option(r.getString(2)), r.getLong(3)))).toMap
    assert(out2 == out)
  }
}
