package graft

import org.apache.spark.sql.functions._

import graft.plans.GraftFunctions

/** SQL registration + native-expression semantics/codegen checks. */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("registered SQL functions: dot_f32, cosine_f32, amount_category") {
    GraftFunctions.register(spark)
    Seq((Array(1f, 2f, 3f), Array(4f, 5f, 6f)), (Array(1f, 0f, 0f), Array(0f, 1f, 0f)))
      .toDF("a", "b").createOrReplaceTempView("vecs")
    val dots = spark.sql("SELECT dot_f32(a, b) AS d, cosine_f32(a, a) AS self FROM vecs")
      .as[(Double, Double)].collect()
    assert(dots(0)._1 == 32.0 && dots(1)._1 == 0.0)
    assert(math.abs(dots(0)._2 - 1.0) < 1e-12)

    val cats = spark.sql(
      "SELECT amount_category(x) AS c FROM VALUES (49.99), (50.0), (199.99), (200.0) AS t(x)")
      .as[String].collect().toSeq
    assert(cats == Seq("Low", "Medium", "Medium", "High"))
  }

  test("MERGE INTO SQL surface drives the bucketed path upsert end-to-end") {
    import org.apache.spark.sql.SparkSession
    import graft.merge.MergeWriter
    val dir = java.nio.file.Files.createTempDirectory("merge_sql").toString
    // extensions apply at session construction: build a sibling session
    // on the same SparkContext with the parser injected — and WITHOUT
    // touching the JVM-global default/active registry (concurrent
    // threads resolve SparkSession.active mid-query)
    val s2 = graft.plans.SiblingSession.withExtensions(spark, new graft.plans.GraftExtensions)
    assert(s2 ne spark)
    assert(SparkSession.getDefaultSession.contains(spark))
    assert(SparkSession.getActiveSession.contains(spark))
    try {
      import s2.implicits._
      Seq((1L, "a", 1), (2L, "b", 1), (2L, "b2", 2))
        .toDF("k", "v", "ver").createOrReplaceTempView("src1")
      val n1 = s2.sql(s"MERGE INTO '$dir' USING src1 ON k ORDER BY ver " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *").collect()
      assert(n1.map(_.getLong(0)).toSeq == Seq(2L)) // 2 distinct keys affected
      val after1 = MergeWriter.readTarget(s2, dir).get
        .select("k", "v").as[(Long, String)].collect().toMap
      assert(after1 == Map(1L -> "a", 2L -> "b2")) // highest ver wins in-batch

      // reference ON form + no ORDER BY: last source row per key wins
      Seq((2L, "c"), (3L, "d"), (3L, "e")).toDF("k", "v").createOrReplaceTempView("src2")
      val n2 = s2.sql(s"MERGE INTO '$dir' USING src2 ON t.k = s.k").collect()
      assert(n2.map(_.getLong(0)).toSeq == Seq(2L))
      val after2 = MergeWriter.readTarget(s2, dir).get
        .select("k", "v").as[(Long, String)].collect().toMap
      assert(after2 == Map(1L -> "a", 2L -> "c", 3L -> "e"))

      // update-only MERGE (no insert branch): matched rows take the
      // SET, unmatched source rows are inert — update-if-exists CDC
      // (a throwaway target: `dir` is read again further down)
      val dirU = java.nio.file.Files.createTempDirectory("merge_updonly").toString
      s2.sql(s"MERGE INTO '$dirU' USING src2 ON k").collect() // {2->c, 3->e}
      Seq((3L, "zz"), (9L, "nine")).toDF("k", "v").createOrReplaceTempView("uo_src")
      val n3 = s2.sql(s"MERGE INTO '$dirU' USING uo_src ON k " +
        "WHEN MATCHED THEN UPDATE SET v = 'u'").collect().head.getLong(0)
      assert(n3 == 1L) // 3 updates; unmatched 9 is inert
      assert(MergeWriter.readTarget(s2, dirU).get
        .select("k", "v").as[(Long, String)].collect().toMap ==
        Map(2L -> "c", 3L -> "u"))
      // mismatched ON keys are rejected
      intercept[UnsupportedOperationException] {
        s2.sql(s"MERGE INTO '$dir' USING src2 ON t.k = s.other")
      }
      // BUCKETS clause pins the bucket layout of a fresh target
      val dirB = java.nio.file.Files.createTempDirectory("merge_sqlb").toString
      s2.sql(s"MERGE INTO '$dirB' USING src1 ON k ORDER BY ver BUCKETS 4").collect()
      val meta = java.nio.file.Files.readString(
        java.nio.file.Paths.get(dirB, "_BUCKETS"))
      assert(meta.startsWith("4\t"))

      // the read side: graft_target TVF over the same store, current
      // snapshot and time travel, with ordinary SQL composition
      val viaTvf = s2.sql(s"SELECT k, v FROM graft_target('$dir') WHERE k >= 2 ORDER BY k")
        .as[(Long, String)].collect().toSeq
      assert(viaTvf == Seq((2L, "c"), (3L, "e")))
      val asOfV0 = s2.sql(s"SELECT k, v FROM graft_target('$dir', 0) ORDER BY k")
        .as[(Long, String)].collect().toMap
      assert(asOfV0 == Map(1L -> "a", 2L -> "b2")) // before the second batch
      intercept[Exception] { s2.sql("SELECT * FROM graft_target('/nope/missing')").collect() }

      // maintenance surface: COMPACT folds the merge chain into one
      // self-contained version; VACUUM KEEP 1 reclaims the rest
      val ver = s2.sql(s"COMPACT '$dir'").collect().head.getLong(0)
      assert(ver == MergeWriter.currentVersion(dir).toLong && ver >= 2)
      val reclaimed = s2.sql(s"VACUUM '$dir' KEEP 1").collect().head.getLong(0)
      assert(reclaimed >= 1)
      val afterMaint = MergeWriter.readTarget(s2, dir).get
        .select("k", "v").as[(Long, String)].collect().toMap
      assert(afterMaint == Map(1L -> "a", 2L -> "c", 3L -> "e"))

      // time-travel discoverability: the surviving versions, exactly
      // one current, the compacted one fully self-contained
      val vers = s2.sql(s"SELECT * FROM graft_target_versions('$dir') ORDER BY version")
        .as[(Int, Boolean, Int, Int)].collect().toSeq
      assert(vers.count(_._2) == 1)
      assert(vers.exists { case (v, cur, b, own) => cur && v == ver.toInt && b == own })
      intercept[Exception] {
        s2.sql("SELECT * FROM graft_target_versions('/nope/missing')").collect()
      }
      // a crash-orphaned bare v<N> directory above the pointer (data
      // written, no manifest, no pointer swap) is NOT advertised — it
      // would read back partial
      val orphan = java.nio.file.Paths.get(dir, s"v${ver.toInt + 5}")
      java.nio.file.Files.createDirectories(orphan.resolve("data"))
      val after = s2.sql(s"SELECT version FROM graft_target_versions('$dir')")
        .as[Int].collect().toSeq
      assert(after == vers.map(_._1), s"orphan advertised: $after")
      graft.util.Fs.deleteRecursively(orphan)

      // inline subquery source (the T-SQL MERGE form) — the alias is
      // accepted and ignored; nested parens inside the subquery balance
      val nSub = s2.sql(s"MERGE INTO '$dir' USING " +
        "(SELECT k, upper(v) AS v FROM (SELECT * FROM src2) t WHERE k <> 2) s ON k")
        .collect().head.getLong(0)
      assert(nSub == 1L) // only key 3 after the filter + last-wins dedup
      assert(MergeWriter.readTarget(s2, dir).get
        .select("k", "v").as[(Long, String)].collect().toMap ==
        Map(1L -> "a", 2L -> "c", 3L -> "E"))

      // layout discoverability: buckets/key columns/current version
      val lay = s2.sql(s"SELECT * FROM graft_target_layout('$dir')").collect().head
      assert(lay.getInt(0) == 32 && lay.getString(1) == "k"
        && lay.getInt(2) == MergeWriter.currentVersion(dir))
      intercept[Exception] {
        s2.sql("SELECT * FROM graft_target_layout('/nope/missing')").collect()
      }

      // everything else still parses through the delegate
      assert(s2.sql("SELECT 1 AS one").collect().head.getInt(0) == 1)
      // the sibling never displaced the globals
      assert(SparkSession.getDefaultSession.contains(spark))
    } finally {
      SparkSession.setActiveSession(spark)
    }
  }

  test("MERGE delete branch removes matched keys and never inserts") {
    import graft.merge.MergeWriter
    val dir = java.nio.file.Files.createTempDirectory("merge_del").toString
    val s2 = graft.plans.SiblingSession.withExtensions(spark, new graft.plans.GraftExtensions)
    import s2.implicits._
    def state(): Map[Long, String] = MergeWriter.readTarget(s2, dir).get
      .select($"k", $"v").as[(Long, String)].collect().toMap

    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .createOrReplaceTempView("del_seed")
    s2.sql(s"MERGE INTO '$dir' USING del_seed ON k BUCKETS 4").collect()

    // delete-only form: matched keys removed, an unmatched tombstone is
    // a no-op (never inserts) — and, like @@ROWCOUNT, takes no part in
    // rows_affected: only k=2 actually deleted
    Seq(2L, 9L).toDF("k").createOrReplaceTempView("del_batch")
    val n = s2.sql(s"MERGE INTO '$dir' USING del_batch ON k WHEN MATCHED THEN DELETE")
      .collect().head.getLong(0)
    assert(n == 1L)
    assert(state() == Map(1L -> "a", 3L -> "c"))

    // conditional delete combined with the upsert pair: flagged rows
    // delete, the rest upsert; intra-batch the LATEST action per key
    // wins (k=7: delete then upsert → present; k=3: upsert then delete
    // → gone)
    Seq((3L, "c2", 1L, false), (3L, "c3", 2L, true),
        (7L, "x", 1L, true), (7L, "y", 2L, false),
        (5L, "e", 1L, false))
      .toDF("k", "v", "ver", "is_del").createOrReplaceTempView("del_mixed")
    s2.sql(s"MERGE INTO '$dir' USING del_mixed ON k ORDER BY ver " +
      "WHEN MATCHED AND is_del THEN DELETE " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *").collect()
    assert(state() == Map(1L -> "a", 5L -> "e", 7L -> "y"))

    // delete EVERY remaining row: the target stays readable (schema
    // kept) and point lookups return empty; a later merge repopulates
    Seq(1L, 5L, 7L).toDF("k").createOrReplaceTempView("del_all")
    s2.sql(s"MERGE INTO '$dir' USING del_all ON k WHEN MATCHED THEN DELETE").collect()
    val empty = MergeWriter.readTarget(s2, dir).get
    assert(empty.count() == 0)
    assert(empty.columns.contains("k") && empty.columns.contains("v"))
    assert(s2.sql(s"SELECT * FROM graft_target('$dir')").count() == 0)
    val emptied = MergeWriter.currentVersion(dir)
    Seq((4L, "d")).toDF("k", "v").createOrReplaceTempView("del_reseed")
    s2.sql(s"MERGE INTO '$dir' USING del_reseed ON k").collect()
    assert(state() == Map(4L -> "d"))

    // the emptied version maps no bucket: time travel to it reads empty
    // with its columns, a pinned lookup finds nothing, and its versions
    // row reports 0/0
    val emptiedAt = MergeWriter.readTargetAt(s2, dir, emptied).get
    assert(emptiedAt.count() == 0 && emptiedAt.columns.toSet.contains("k") &&
      emptiedAt.columns.toSet.contains("v"))
    assert(s2.sql(s"SELECT * FROM graft_target('$dir', $emptied)").count() == 0)
    assert(s2.sql(s"SELECT * FROM graft_target_lookup_at('$dir', $emptied, 1, 4)").count() == 0)
    assert(s2.sql(s"SELECT * FROM graft_target_versions('$dir') WHERE version = $emptied")
      .as[(Int, Boolean, Int, Int)].collect().toSeq == Seq((emptied, false, 0, 0)))

    // time travel still sees the pre-delete snapshots (v0 = the seed)
    assert(MergeWriter.readTargetAt(s2, dir, 0).get
      .select($"k").as[Long].collect().toSet == Set(1L, 2L, 3L))
    // the re-seed wrote a self-contained version: KEEP 1 reclaims every
    // older one, the emptied version included
    assert(s2.sql(s"VACUUM '$dir' KEEP 1").collect().head.getLong(0) == emptied + 1L)
    assert(state() == Map(4L -> "d"))
    assert(MergeWriter.readTargetAt(s2, dir, emptied).isEmpty)

    // a malformed WHEN blob still raises
    intercept[UnsupportedOperationException] {
      s2.sql(s"MERGE INTO '$dir' USING del_seed ON k WHEN MATCHED THEN FROBNICATE")
    }
  }

  test("composite merge keys match on the conjunction; single-key behavior unchanged") {
    import graft.merge.MergeWriter
    val dir = java.nio.file.Files.createTempDirectory("merge_comp").toString
    val s2 = graft.plans.SiblingSession.withExtensions(spark, new graft.plans.GraftExtensions)
    import s2.implicits._
    def state(): Map[(Long, Int), String] = MergeWriter.readTarget(s2, dir).get
      .select($"tenant", $"id", $"v").as[(Long, Int, String)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap

    // seed via the API overload: (tenant, id) is the key — the same id
    // under different tenants must stay distinct rows
    MergeWriter.mergeByKeys(spark, dir,
      Seq((1L, 1, "t1-a"), (1L, 2, "t1-b"), (2L, 1, "t2-a")).toDF("tenant", "id", "v")
        .withColumn("ord", org.apache.spark.sql.functions.lit(1)),
      Seq("tenant", "id"), "ord", buckets = 4)
    assert(state() == Map((1L, 1) -> "t1-a", (1L, 2) -> "t1-b", (2L, 1) -> "t2-a"))

    // SQL surface: two-column ON updates one tuple, inserts another;
    // tenant 2's id=1 is untouched by tenant 1's update of id=1
    Seq((1L, 1, "t1-a2"), (2L, 7, "t2-c")).toDF("tenant", "id", "v")
      .createOrReplaceTempView("comp_src")
    val n = s2.sql(s"MERGE INTO '$dir' USING comp_src ON tenant AND id")
      .collect().head.getLong(0)
    assert(n == 2L)
    assert(state() == Map((1L, 1) -> "t1-a2", (1L, 2) -> "t1-b",
      (2L, 1) -> "t2-a", (2L, 7) -> "t2-c"))

    // intra-batch last-wins dedups on the WHOLE tuple
    Seq((1L, 2, "x"), (1L, 2, "y"), (3L, 2, "z")).toDF("tenant", "id", "v")
      .createOrReplaceTempView("comp_dup")
    s2.sql(s"MERGE INTO '$dir' USING comp_dup ON tenant AND id").collect()
    assert(state()((1L, 2)) == "y" && state()((3L, 2)) == "z")

    // delete branch composes with composite keys
    Seq((1L, 2), (9L, 9)).toDF("tenant", "id").createOrReplaceTempView("comp_del")
    s2.sql(s"MERGE INTO '$dir' USING comp_del ON tenant AND id " +
      "WHEN MATCHED THEN DELETE").collect()
    assert(!state().contains((1L, 2)) && state()((3L, 2)) == "z")

    // read side: partial-key filters scan (correctly), the single-key
    // lookup API refuses a composite target, COMPACT preserves the
    // layout, and a mismatched key set fails loudly
    assert(s2.sql(s"SELECT count(*) FROM graft_target('$dir') WHERE tenant = 1")
      .collect().head.getLong(0) == 1L)
    assert(MergeWriter.readTargetKeys(s2, dir, Seq(1L)).isEmpty)
    s2.sql(s"COMPACT '$dir'").collect()
    assert(state()((2L, 7)) == "t2-c")
    intercept[IllegalArgumentException] {
      MergeWriter.mergeByKeys(spark, dir,
        Seq((1L, "w")).toDF("tenant", "v")
          .withColumn("ord", org.apache.spark.sql.functions.lit(1)),
        Seq("tenant"), "ord")
    }

    // layout discoverability reports the composite key in order
    val lay = s2.sql(s"SELECT * FROM graft_target_layout('$dir')").collect().head
    assert(lay.getInt(0) == 4 && lay.getString(1) == "tenant,id")

    // composite point lookups: full key tuples prune to their buckets
    val allFiles = MergeWriter.readTarget(s2, dir).get.inputFiles.toSet
    val tup = MergeWriter.readTargetTuples(s2, dir, Seq(Seq(2L, 7), Seq(9L, 9)))
      .get
    assert(tup.select($"tenant", $"id", $"v").as[(Long, Int, String)].collect().toSeq ==
      Seq((2L, 7, "t2-c"))) // the absent tuple matches nothing
    assert(tup.inputFiles.toSet.subsetOf(allFiles) && tup.inputFiles.length < allFiles.size,
      s"composite lookup read ${tup.inputFiles.length}/${allFiles.size} files")
    // (tenant=2, id=1) and (tenant=1, id=1): same id, different tenants
    assert(MergeWriter.readTargetTuples(s2, dir, Seq(Seq(2L, 1L)))
      .get.select($"v").as[String].collect().toSeq == Seq("t2-a"))
    // wrong arity / null component tuples match nothing
    assert(MergeWriter.readTargetTuples(s2, dir, Seq(Seq(2L))).get.count() == 0)
    assert(MergeWriter.readTargetTuples(s2, dir, Seq(Seq(null, 7))).get.count() == 0)

    // SQL: grouped literals, and the auto-prune rule fires when every
    // key column carries an equality — with the residual exactness of
    // the filter (tenant=2 AND id=7)
    val viaSql = s2.sql(s"SELECT v FROM graft_target_lookup('$dir', 2, 7, 3, 2) ORDER BY v")
      .as[String].collect().toSeq
    assert(viaSql == Seq("t2-c", "z"))
    intercept[Exception] { // literals not groupable into 2-tuples
      s2.sql(s"SELECT * FROM graft_target_lookup('$dir', 2)").collect()
    }
    val auto = s2.sql(s"SELECT v FROM graft_target('$dir') WHERE tenant = 2 AND id = 7")
    assert(auto.as[String].collect().toSeq == Seq("t2-c"))
    assert(auto.inputFiles.length < allFiles.size,
      s"composite auto-prune read ${auto.inputFiles.length}/${allFiles.size} files")
    // IN-lists per column prune via the bounded cross product
    val autoIn = s2.sql(
      s"SELECT v FROM graft_target('$dir') WHERE tenant IN (1, 2) AND id IN (1, 7) ORDER BY v")
    assert(autoIn.as[String].collect().toSeq == Seq("t1-a2", "t2-a", "t2-c"))
    assert(autoIn.inputFiles.length < allFiles.size)
    // a partial-key predicate does NOT prune (and stays correct)
    assert(s2.sql(s"SELECT count(*) FROM graft_target('$dir') WHERE id = 2")
      .collect().head.getLong(0) == 1L)
  }

  test("MERGE WHEN branches parse in any T-SQL order; trailing actions never drop") {
    import graft.merge.MergeWriter
    val dir = java.nio.file.Files.createTempDirectory("merge_order").toString
    val s2 = graft.plans.SiblingSession.withExtensions(spark, new graft.plans.GraftExtensions)
    import s2.implicits._
    def state(): Map[Long, String] = MergeWriter.readTarget(s2, dir).get
      .select($"k", $"v").as[(Long, String)].collect().toMap

    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .createOrReplaceTempView("ord_seed")
    s2.sql(s"MERGE INTO '$dir' USING ord_seed ON k BUCKETS 4").collect()

    // the delete branch WRITTEN AFTER the upsert pair (legal T-SQL
    // ordering) must apply — the round-11 parser silently dropped it
    Seq((2L, "b2", false), (3L, "x", true), (4L, "d", false))
      .toDF("k", "v", "is_del").createOrReplaceTempView("ord_mixed")
    s2.sql(s"MERGE INTO '$dir' USING ord_mixed ON k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT * " +
      "WHEN MATCHED AND is_del THEN DELETE").collect()
    assert(state() == Map(1L -> "a", 2L -> "b2", 4L -> "d"),
      "trailing DELETE branch was not applied")

    // a trailing clause that is not part of the grammar still raises
    // instead of being ignored
    intercept[UnsupportedOperationException] {
      s2.sql(s"MERGE INTO '$dir' USING ord_mixed ON k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT * " +
        "WHEN MATCHED THEN FROBNICATE")
    }
    // duplicate branches raise
    intercept[UnsupportedOperationException] {
      s2.sql(s"MERGE INTO '$dir' USING ord_mixed ON k " +
        "WHEN MATCHED THEN DELETE WHEN MATCHED THEN DELETE")
    }
    // a CASE WHEN inside the delete condition is not a branch boundary
    s2.sql(s"MERGE INTO '$dir' USING ord_mixed ON k " +
      "WHEN MATCHED AND (CASE WHEN v = 'never' THEN true ELSE false END) THEN DELETE " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *").collect()
    assert(state() == Map(1L -> "a", 2L -> "b2", 3L -> "x", 4L -> "d"))
  }

  test("MERGE WHEN grammar: every branch combination accepts or rejects correctly") {
    import graft.merge.MergeWriter
    val dir = java.nio.file.Files.createTempDirectory("merge_perm").toString
    val s2 = graft.plans.SiblingSession.withExtensions(spark, new graft.plans.GraftExtensions)
    import s2.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").createOrReplaceTempView("perm_seed")
    s2.sql(s"MERGE INTO '$dir' USING perm_seed ON k BUCKETS 2").collect()
    Seq((2L, "b2"), (3L, "c")).toDF("k", "v").createOrReplaceTempView("perm_src")

    val branches = Map(
      'U' -> "WHEN MATCHED AND v <> 'zz' THEN UPDATE SET *",
      'I' -> "WHEN NOT MATCHED THEN INSERT *",
      'D' -> "WHEN MATCHED AND v = 'zz' THEN DELETE",
      'S' -> "WHEN NOT MATCHED BY SOURCE AND v = 'zz' THEN DELETE")
    // every branch combination is legal (T-SQL): an absent branch
    // simply never fires — U alone is update-if-exists, I alone
    // ignore-if-exists, S alone the mirror-deletes form
    for {
      subset <- branches.keySet.subsets() if subset.nonEmpty
      perm <- subset.toSeq.permutations.take(3)
    } {
      val stmt = s"MERGE INTO '$dir' USING perm_src ON k " +
        perm.map(branches).mkString(" ")
      s2.sql(stmt).collect()
    }
    // the target stayed consistent through every accepted permutation
    // (conditions above never fire, so state is just the seed + upserts)
    assert(MergeWriter.readTarget(s2, dir).get
      .select($"k", $"v").as[(Long, String)].collect().toMap ==
      Map(1L -> "a", 2L -> "b2", 3L -> "c"))
  }

  test("MERGE partial-column UPDATE SET updates only the listed columns on match") {
    import graft.merge.MergeWriter
    val dir = java.nio.file.Files.createTempDirectory("merge_partial").toString
    val s2 = graft.plans.SiblingSession.withExtensions(spark, new graft.plans.GraftExtensions)
    import s2.implicits._
    def state(): Map[Long, (String, Long)] = MergeWriter.readTarget(s2, dir).get
      .select($"k", $"v", $"amt").as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

    Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "v", "amt")
      .createOrReplaceTempView("p_seed")
    s2.sql(s"MERGE INTO '$dir' USING p_seed ON k BUCKETS 4").collect()

    // matched k=2: only amt updates (v keeps the TARGET value, not the
    // source's); unmatched k=3 inserts the RAW source row (v included,
    // and amt without the SET expression's +1)
    Seq((2L, "IGNORED", 200L), (3L, "c", 30L)).toDF("k", "v", "amt")
      .createOrReplaceTempView("p_upd")
    val n = s2.sql(s"MERGE INTO '$dir' USING p_upd ON k " +
      "WHEN MATCHED THEN UPDATE SET amt = s.amt + 1 " +
      "WHEN NOT MATCHED THEN INSERT *").collect().head.getLong(0)
    assert(n == 2L)
    assert(state() == Map(1L -> (("a", 10L)), 2L -> (("b", 201L)), 3L -> (("c", 30L))))

    // multi-assignment with a function call (comma inside parens does
    // not split) and a bare column reference on the RHS
    Seq((3L, "zz", 5L)).toDF("k", "v", "amt").createOrReplaceTempView("p_upd2")
    s2.sql(s"MERGE INTO '$dir' USING p_upd2 ON k " +
      "WHEN MATCHED THEN UPDATE SET v = concat(v, '!'), amt = greatest(amt, 7) " +
      "WHEN NOT MATCHED THEN INSERT *").collect()
    assert(state()(3L) == (("zz!", 7L)))

    // assigning a merge key is rejected
    intercept[UnsupportedOperationException] {
      s2.sql(s"MERGE INTO '$dir' USING p_upd ON k " +
        "WHEN MATCHED THEN UPDATE SET k = 99 WHEN NOT MATCHED THEN INSERT *")
    }
  }

  test("MERGE conditional update branch: non-firing matched rows take no action") {
    import graft.merge.MergeWriter
    val dir = java.nio.file.Files.createTempDirectory("merge_cond").toString
    val s2 = graft.plans.SiblingSession.withExtensions(spark, new graft.plans.GraftExtensions)
    import s2.implicits._
    def state(): Map[Long, (String, Long)] = MergeWriter.readTarget(s2, dir).get
      .select($"k", $"v", $"ver").as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

    Seq((1L, "a", 5L), (2L, "b", 5L)).toDF("k", "v", "ver")
      .createOrReplaceTempView("c_seed")
    s2.sql(s"MERGE INTO '$dir' USING c_seed ON k BUCKETS 4").collect()
    // microsecond granularity: a seconds cast makes the changed-stamp
    // assertion below flaky when both merges land in the same second
    val before = MergeWriter.readTarget(s2, dir).get
      .select($"k", unix_micros($"migrated_at")).as[(Long, Long)].collect().toMap

    // k=1 carries ver=3 (< 5: update branch does not fire, row stays
    // byte-identical including migrated_at); k=2 carries ver=9 (fires);
    // k=3 is new (inserts regardless of the condition). rows_affected
    // counts the firing update + the insert only.
    Seq((1L, "STALE", 3L), (2L, "b2", 9L), (3L, "c", 1L))
      .toDF("k", "v", "ver").createOrReplaceTempView("c_upd")
    val n = s2.sql(s"MERGE INTO '$dir' USING c_upd ON k " +
      "WHEN MATCHED AND s.ver > 5 THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *").collect().head.getLong(0)
    assert(n == 2L)
    assert(state() == Map(1L -> (("a", 5L)), 2L -> (("b2", 9L)), 3L -> (("c", 1L))))
    val after = MergeWriter.readTarget(s2, dir).get
      .select($"k", unix_micros($"migrated_at")).as[(Long, Long)].collect().toMap
    assert(after(1L) == before(1L), "non-firing matched row was rewritten")
    assert(after(2L) != before(2L))

    // the condition composes with partial SET: only the listed column
    // updates, and only where the condition fires
    Seq((2L, "IGNORED", 20L), (3L, "IGNORED", 0L)).toDF("k", "v", "ver")
      .createOrReplaceTempView("c_upd2")
    s2.sql(s"MERGE INTO '$dir' USING c_upd2 ON k " +
      "WHEN MATCHED AND ver > 5 THEN UPDATE SET ver = s.ver " +
      "WHEN NOT MATCHED THEN INSERT *").collect()
    assert(state() == Map(1L -> (("a", 5L)), 2L -> (("b2", 20L)), 3L -> (("c", 1L))))
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE THEN DELETE synchronizes to the source") {
    import graft.merge.MergeWriter
    val dir = java.nio.file.Files.createTempDirectory("merge_sync").toString
    val s2 = graft.plans.SiblingSession.withExtensions(spark, new graft.plans.GraftExtensions)
    import s2.implicits._
    def state(): Map[Long, String] = MergeWriter.readTarget(s2, dir).get
      .select($"k", $"v").as[(Long, String)].collect().toMap

    Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v")
      .createOrReplaceTempView("sy_seed")
    s2.sql(s"MERGE INTO '$dir' USING sy_seed ON k BUCKETS 4").collect()

    // source = {2 updated, 5 new}: 1/3/4 are absent from the source and
    // drop; rows_affected = 1 update + 1 insert + 3 sync deletes
    Seq((2L, "b2"), (5L, "e")).toDF("k", "v").createOrReplaceTempView("sy_src")
    val n = s2.sql(s"MERGE INTO '$dir' USING sy_src ON k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT * " +
      "WHEN NOT MATCHED BY SOURCE THEN DELETE").collect().head.getLong(0)
    assert(n == 5L)
    assert(state() == Map(2L -> "b2", 5L -> "e"))

    // sync-delete WITHOUT the upsert pair: mirror-deletes-only — the
    // source acts purely as the presence set. Against the seed view
    // (keys 1-4): 2 is present and keeps its CURRENT bytes (the seed's
    // v='b' must not apply), 5 is absent and drops, seed-only keys
    // 1/3/4 do not insert; only the drop counts
    val nm = s2.sql(s"MERGE INTO '$dir' USING sy_seed ON k " +
      "WHEN NOT MATCHED BY SOURCE THEN DELETE").collect().head.getLong(0)
    assert(nm == 1L)
    assert(state() == Map(2L -> "b2"))
    // an idempotent replay of the same snapshot: same final state
    s2.sql(s"MERGE INTO '$dir' USING sy_src ON k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT * " +
      "WHEN NOT MATCHED BY SOURCE THEN DELETE").collect()
    assert(state() == Map(2L -> "b2", 5L -> "e"))

    // scoped sync (T-SQL's AND cond form, cond over TARGET columns):
    // re-seed with extra rows, then sync only the v < 'm' slice — the
    // target-only row "z9" is OUT of scope and survives; the in-scope
    // target-only row "a9" drops; matched/inserted rows unaffected
    Seq((7L, "a9"), (8L, "z9")).toDF("k", "v").createOrReplaceTempView("sy_extra")
    s2.sql(s"MERGE INTO '$dir' USING sy_extra ON k").collect()
    val n2 = s2.sql(s"MERGE INTO '$dir' USING sy_src ON k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT * " +
      "WHEN NOT MATCHED BY SOURCE AND v < 'm' THEN DELETE").collect().head.getLong(0)
    assert(n2 == 3L) // update k=2, insert... k=5 matched now: 2 updates + 1 scoped delete
    assert(state() == Map(2L -> "b2", 5L -> "e", 8L -> "z9"))
  }

  test("MERGE sync-update branch flags stale rows; sync delete wins on overlap") {
    import graft.merge.MergeWriter
    val dir = java.nio.file.Files.createTempDirectory("merge_syncupd").toString
    val s2 = graft.plans.SiblingSession.withExtensions(spark, new graft.plans.GraftExtensions)
    import s2.implicits._
    def state(): Map[Long, (String, Int)] = MergeWriter.readTarget(s2, dir).get
      .select($"k", $"v", $"amt").as[(Long, String, Int)].collect()
      .map { case (k, v, a) => k -> ((v, a)) }.toMap

    Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30), (4L, "d", 40)).toDF("k", "v", "amt")
      .createOrReplaceTempView("su_seed")
    s2.sql(s"MERGE INTO '$dir' USING su_seed ON k BUCKETS 2").collect()

    // stale-flag WITHOUT the pair: 2 is present and keeps its bytes;
    // 1/3/4 are absent and take the SET (t-prefixed and bare names,
    // an expression over the target's own columns); 3 counts each
    Seq((2L, "x", 99)).toDF("k", "v", "amt").createOrReplaceTempView("su_src")
    val n = s2.sql(s"MERGE INTO '$dir' USING su_src ON k " +
      "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = concat(t.v, '!'), amt = amt + 100")
      .collect().head.getLong(0)
    assert(n == 3L)
    assert(state() == Map(1L -> (("a!", 110)), 2L -> (("b", 20)),
      3L -> (("c!", 130)), 4L -> (("d!", 140))))

    // scoped stale-flag combined with scoped sync delete: the delete
    // is listed FIRST, so it wins where both conditions hold (one
    // action per row, first applicable clause — T-SQL);
    // 1 (amt 110) drops, 3/4 (amt 130/140 >= 120) flag, 2 untouched
    val n2 = s2.sql(s"MERGE INTO '$dir' USING su_src ON k " +
      "WHEN NOT MATCHED BY SOURCE AND amt < 120 THEN DELETE " +
      "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 'stale'")
      .collect().head.getLong(0)
    assert(n2 == 3L) // 1 delete + 2 stale flags
    assert(state() == Map(2L -> (("b", 20)),
      3L -> (("stale", 130)), 4L -> (("stale", 140))))

    // SET * is meaningless without a source row
    intercept[UnsupportedOperationException] {
      s2.sql(s"MERGE INTO '$dir' USING su_src ON k " +
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET *")
    }
    // keys cannot be rewritten from the stale-row branch either
    intercept[UnsupportedOperationException] {
      s2.sql(s"MERGE INTO '$dir' USING su_src ON k " +
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET k = k + 1")
    }
  }

  test("MERGE sync branches fire in statement order: UPDATE listed first wins overlap") {
    import graft.merge.MergeWriter
    val dir = java.nio.file.Files.createTempDirectory("merge_syncord").toString
    val s2 = graft.plans.SiblingSession.withExtensions(spark, new graft.plans.GraftExtensions)
    import s2.implicits._
    def state(): Map[Long, (String, Int)] = MergeWriter.readTarget(s2, dir).get
      .select($"k", $"v", $"amt").as[(Long, String, Int)].collect()
      .map { case (k, v, a) => k -> ((v, a)) }.toMap

    Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("k", "v", "amt")
      .createOrReplaceTempView("so_seed")
    s2.sql(s"MERGE INTO '$dir' USING so_seed ON k BUCKETS 2").collect()

    // UPDATE listed before DELETE: a stale row both clauses select
    // (amt < 25: keys 1 and 2... key 2 is in the source, so stale rows
    // are 1 and 3) takes the UPDATE — the first applicable clause in
    // statement order, as in T-SQL. Key 1 satisfies both (amt 10 < 25)
    // → updated, NOT deleted; key 3 fails the update condition
    // (amt 30) and satisfies the unconditional delete → dropped.
    Seq((2L, "b2", 21)).toDF("k", "v", "amt").createOrReplaceTempView("so_src")
    val n = s2.sql(s"MERGE INTO '$dir' USING so_src ON k " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED BY SOURCE AND amt < 25 THEN UPDATE SET v = 'stale' " +
      "WHEN NOT MATCHED BY SOURCE THEN DELETE").collect().head.getLong(0)
    assert(n == 3L) // 1 matched update + 1 stale flag + 1 sync delete
    assert(state() == Map(1L -> (("stale", 10)), 2L -> (("b2", 21))),
      "UPDATE listed first must win the overlap; DELETE takes the rest")

    // same clauses, DELETE listed first: the overlap row now drops
    Seq((2L, "b3", 22)).toDF("k", "v", "amt").createOrReplaceTempView("so_src2")
    s2.sql(s"MERGE INTO '$dir' USING so_src2 ON k " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED BY SOURCE AND amt < 25 THEN DELETE " +
      "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 'kept'").collect()
    assert(state() == Map(2L -> (("b3", 22))),
      "DELETE listed first must win the overlap")

    // BOTH branches conditioned, overlapping selections. UPDATE listed
    // first: a stale row satisfying both conditions takes the UPDATE;
    // DELETE fires only where its own condition holds and the earlier
    // clause's does not — first-applicable-clause, clause conditions
    // evaluated in statement order exactly as T-SQL.
    val dir2 = java.nio.file.Files.createTempDirectory("merge_syncord2").toString
    def state2(): Map[Long, (String, Int)] = MergeWriter.readTarget(s2, dir2).get
      .select($"k", $"v", $"amt").as[(Long, String, Int)].collect()
      .map { case (k, v, a) => k -> ((v, a)) }.toMap
    Seq((10L, "x", 10), (11L, "y", 18), (12L, "z", 40)).toDF("k", "v", "amt")
      .createOrReplaceTempView("so_seed2")
    s2.sql(s"MERGE INTO '$dir2' USING so_seed2 ON k BUCKETS 2").collect()
    Seq((12L, "z2", 41)).toDF("k", "v", "amt").createOrReplaceTempView("so_src3")
    // stale rows: 10 (amt 10 — both conditions), 11 (amt 18 — delete only)
    s2.sql(s"MERGE INTO '$dir2' USING so_src3 ON k " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED BY SOURCE AND amt < 15 THEN UPDATE SET v = 'stale' " +
      "WHEN NOT MATCHED BY SOURCE AND amt < 25 THEN DELETE").collect()
    assert(state2() == Map(10L -> (("stale", 10)), 12L -> (("z2", 41))),
      "conditioned UPDATE listed first must win the both-true overlap; " +
        "conditioned DELETE takes only its exclusive rows")
    // reversed statement order, same conditions: the overlap row drops,
    // the delete-only row now takes the (wider) UPDATE
    val dir3 = java.nio.file.Files.createTempDirectory("merge_syncord3").toString
    s2.sql(s"MERGE INTO '$dir3' USING so_seed2 ON k BUCKETS 2").collect()
    s2.sql(s"MERGE INTO '$dir3' USING so_src3 ON k " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED BY SOURCE AND amt < 15 THEN DELETE " +
      "WHEN NOT MATCHED BY SOURCE AND amt < 25 THEN UPDATE SET v = 'kept'").collect()
    val st3 = MergeWriter.readTarget(s2, dir3).get
      .select($"k", $"v", $"amt").as[(Long, String, Int)].collect()
      .map { case (k, v, a) => k -> ((v, a)) }.toMap
    assert(st3 == Map(11L -> (("kept", 18)), 12L -> (("z2", 41))),
      "conditioned DELETE listed first must win the both-true overlap")
  }

  test("MERGE matched DELETE is T-SQL: unmatched rows fall through to INSERT") {
    import graft.merge.MergeWriter
    val dir = java.nio.file.Files.createTempDirectory("merge_tsqldel").toString
    val s2 = graft.plans.SiblingSession.withExtensions(spark, new graft.plans.GraftExtensions)
    import s2.implicits._
    def state(): Map[Long, String] = MergeWriter.readTarget(s2, dir).get
      .select($"k", $"v").as[(Long, String)].collect().toMap

    Seq((1L, "a"), (2L, "b")).toDF("k", "v").createOrReplaceTempView("td_seed")
    s2.sql(s"MERGE INTO '$dir' USING td_seed ON k BUCKETS 2").collect()

    // the advisor's exact case: unconditional matched DELETE combined
    // with INSERT — matched keys drop, unmatched keys INSERT (the
    // delete branch never applies to an unmatched row in T-SQL; under
    // the old CDC reading this statement inserted nothing)
    Seq((2L, "x"), (3L, "c")).toDF("k", "v").createOrReplaceTempView("td_src")
    val n = s2.sql(s"MERGE INTO '$dir' USING td_src ON k " +
      "WHEN MATCHED THEN DELETE WHEN NOT MATCHED THEN INSERT *")
      .collect().head.getLong(0)
    assert(n == 2L) // 1 delete + 1 insert
    assert(state() == Map(1L -> "a", 3L -> "c"),
      "matched 2 must delete; unmatched 3 must insert")

    // a CONDITIONAL delete with a firing condition: an unmatched row
    // satisfying it still inserts (the branch is matched-only), a
    // matched row satisfying it deletes, the rest upsert
    Seq((1L, "del", true), (3L, "c2", false), (9L, "del-too", true))
      .toDF("k", "v", "is_del").createOrReplaceTempView("td_mix")
    val n2 = s2.sql(s"MERGE INTO '$dir' USING td_mix ON k " +
      "WHEN MATCHED AND is_del THEN DELETE " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      .collect().head.getLong(0)
    assert(n2 == 3L) // delete 1, update 3, insert 9
    assert(state() == Map(3L -> "c2", 9L -> "del-too"),
      "unmatched row with a true delete condition must still insert")

    // on an EMPTY target nothing matches: matched DELETE never fires,
    // every source row inserts
    val dir2 = java.nio.file.Files.createTempDirectory("merge_tsqldel2").toString
    Seq((5L, "e")).toDF("k", "v").createOrReplaceTempView("td_fresh")
    s2.sql(s"MERGE INTO '$dir2' USING td_fresh ON k BUCKETS 2 " +
      "WHEN MATCHED THEN DELETE WHEN NOT MATCHED THEN INSERT *").collect()
    assert(MergeWriter.readTarget(s2, dir2).get
      .select($"k", $"v").as[(Long, String)].collect().toMap == Map(5L -> "e"))

    // an INSERT column unknown to BOTH sides is a typo, not schema
    // evolution — raises like T-SQL instead of minting a NULL column
    intercept[UnsupportedOperationException] {
      s2.sql(s"MERGE INTO '$dir' USING td_src ON k " +
        "WHEN NOT MATCHED THEN INSERT (k, vv) VALUES (s.k, s.v)").collect()
    }
  }

  test("MERGE insert branch: condition gates admission; column list routes values") {
    import graft.merge.MergeWriter
    val dir = java.nio.file.Files.createTempDirectory("merge_ins").toString
    val s2 = graft.plans.SiblingSession.withExtensions(spark, new graft.plans.GraftExtensions)
    import s2.implicits._
    def state(): Map[Long, (String, Option[Int])] = MergeWriter.readTarget(s2, dir).get
      .select($"k", $"v", $"amt").as[(Long, String, Option[Int])].collect()
      .map { case (k, v, a) => k -> ((v, a)) }.toMap

    Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "v", "amt")
      .createOrReplaceTempView("ins_seed")
    s2.sql(s"MERGE INTO '$dir' USING ins_seed ON k BUCKETS 2").collect()

    // conditional insert: 3 fires the gate and inserts, 5 fails it and
    // takes NO action (and does not count); matched 2 updates as usual
    Seq((2L, "b2", 21), (3L, "c", 30), (5L, "e", 50)).toDF("k", "v", "amt")
      .createOrReplaceTempView("ins_src")
    val n = s2.sql(s"MERGE INTO '$dir' USING ins_src ON k " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED AND s.amt < 40 THEN INSERT *").collect().head.getLong(0)
    assert(n == 2L) // 1 update + 1 gated insert; k=5 is no action
    assert(state() == Map(1L -> (("a", Some(10))), 2L -> (("b2", Some(21))),
      3L -> (("c", Some(30)))))

    // explicit column list: inserted rows take the VALUES expressions
    // (amt doubled), unlisted v inserts NULL; matched rows are guarded
    // off here, so 3 keeps its bytes
    Seq((3L, "zz", 1), (7L, "g", 70)).toDF("k", "v", "amt")
      .createOrReplaceTempView("ins_src2")
    val n2 = s2.sql(s"MERGE INTO '$dir' USING ins_src2 ON k " +
      "WHEN MATCHED AND s.amt > 99 THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT (k, amt) VALUES (s.k, s.amt * 2)")
      .collect().head.getLong(0)
    assert(n2 == 1L) // the insert; matched 3 fails the update gate
    assert(state()(7L) == ((null, Some(140))))
    assert(state()(3L) == (("c", Some(30))))

    // grammar: arity mismatch, key rewrite, duplicate column, missing
    // VALUES all raise instead of silently mis-routing
    for (badTail <- Seq(
      "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k)",
      "WHEN NOT MATCHED THEN INSERT (k) VALUES (s.amt)",
      "WHEN NOT MATCHED THEN INSERT (v, v) VALUES (s.v, s.v)",
      "WHEN NOT MATCHED THEN INSERT (k, v)")) {
      intercept[UnsupportedOperationException] {
        s2.sql(s"MERGE INTO '$dir' USING ins_src2 ON k " +
          "WHEN MATCHED THEN UPDATE SET * " + badTail)
      }
    }
  }

  test("USING subquery parens inside string literals parse; key names with separators refuse") {
    import graft.merge.MergeWriter
    val dir = java.nio.file.Files.createTempDirectory("merge_quote").toString
    val s2 = graft.plans.SiblingSession.withExtensions(spark, new graft.plans.GraftExtensions)
    import s2.implicits._

    // a ')' inside a string literal must not terminate the subquery
    // scan ('' escape included)
    val n = s2.sql(s"MERGE INTO '$dir' USING " +
      "(SELECT 1 AS k, ':)' AS v UNION ALL SELECT 2 AS k, 'it''s (fine)' AS v) s " +
      "ON k BUCKETS 2").collect().head.getLong(0)
    assert(n == 2L)
    assert(MergeWriter.readTarget(s2, dir).get
      .select($"k", $"v").as[(Long, String)].collect().toMap ==
      Map(1L -> ":)", 2L -> "it's (fine)"))

    // _BUCKETS persists key columns comma-joined: a separator inside a
    // key name would corrupt the layout — refused up front
    intercept[IllegalArgumentException] {
      MergeWriter.mergeByKeys(spark,
        java.nio.file.Files.createTempDirectory("merge_badkey").toString,
        Seq((1L, "x")).toDF("a,b", "v")
          .withColumn("ord", org.apache.spark.sql.functions.lit(1)),
        Seq("a,b"), "ord")
    }
  }

  test("bucket-pruned point lookup reads only the wanted buckets") {
    import graft.merge.MergeWriter
    val dir = java.nio.file.Files.createTempDirectory("target_lookup").toString
    val rows = (1L to 400L).map(k => (k, s"v$k", k % 5))
    MergeWriter.merge(spark, dir,
      rows.toDF("k", "v", "w").withColumn("ord", org.apache.spark.sql.functions.lit(1)),
      "k", "ord", buckets = 16)
    val full = MergeWriter.readTarget(spark, dir).get
    val keys = Seq(7L, 99L, 250L)

    // exact same rows as a full-scan filter...
    val viaLookup = MergeWriter.readTargetKeys(spark, dir, keys).get
      .select($"k", $"v").as[(Long, String)].collect().toSet
    assert(viaLookup == keys.map(k => k -> s"v$k").toSet)
    // ...typed and stringly keys behave alike
    assert(MergeWriter.readTargetKeys(spark, dir, keys.map(_.toString)).get
      .select($"k", $"v").as[(Long, String)].collect().toSet == viaLookup)

    // the lookup plan touches strictly fewer files than the snapshot
    val prunedFiles = MergeWriter.readTargetKeys(spark, dir, keys).get.inputFiles.toSet
    val allFiles = full.inputFiles.toSet
    assert(prunedFiles.subsetOf(allFiles))
    assert(prunedFiles.size < allFiles.size,
      s"lookup read ${prunedFiles.size}/${allFiles.size} files — no pruning happened")

    // absent keys: empty result, still pruned
    assert(MergeWriter.readTargetKeys(spark, dir, Seq(100000L)).get.count() == 0)

    // the SQL surface composes like any relation
    val s2 = graft.plans.SiblingSession.withExtensions(spark, new graft.plans.GraftExtensions)
    val viaSql = s2.sql(s"SELECT k, v FROM graft_target_lookup('$dir', 7, 99, 250) ORDER BY k")
      .as[(Long, String)].collect().toSeq
    assert(viaSql == keys.sorted.map(k => k -> s"v$k"))
    intercept[Exception] {
      s2.sql("SELECT * FROM graft_target_lookup('/nope/missing', 1)").collect()
    }

    // plain graft_target + WHERE key literal auto-prunes via the
    // injected optimizer rule — no special syntax needed
    val auto = s2.sql(s"SELECT k, v FROM graft_target('$dir') WHERE k = 7")
    assert(auto.as[(Long, String)].collect().toSeq == Seq(7L -> "v7"))
    assert(auto.inputFiles.toSet.subsetOf(allFiles) && auto.inputFiles.length < allFiles.size,
      s"auto point lookup read ${auto.inputFiles.length}/${allFiles.size} files")
    // IN-lists prune too, and residual predicates still apply on top
    val autoIn = s2.sql(
      s"SELECT k, v FROM graft_target('$dir') WHERE k IN (7, 99, 250) AND v <> 'v99'")
    assert(autoIn.as[(Long, String)].collect().toSet == Set(7L -> "v7", 250L -> "v250"))
    assert(autoIn.inputFiles.length < allFiles.size)
    // non-point predicates keep the full snapshot scan and full results
    val range = s2.sql(s"SELECT count(*) FROM graft_target('$dir') WHERE k >= 200")
    assert(range.collect().head.getLong(0) == 201L)
    // single-key IN lists are exempt from the composite tuple cap: a
    // wide list still lowers through the pruned path and stays correct
    val wide = (1L to 80L).mkString(", ")
    assert(s2.sql(s"SELECT count(*) FROM graft_target('$dir') WHERE k IN ($wide)")
      .collect().head.getLong(0) == 80L)

    // string-keyed targets auto-prune too (internal UTF8String values
    // must convert to their external form on the way to the lookup)
    val sdir = java.nio.file.Files.createTempDirectory("target_lookup_str").toString
    MergeWriter.merge(spark, sdir,
      ((1 to 200).map(i => (s"id-$i", i)) :+ ("null" -> 0)).toDF("name", "n")
        .withColumn("ord", org.apache.spark.sql.functions.lit(1)),
      "name", "ord", buckets = 16)
    val sAuto = s2.sql(s"SELECT name, n FROM graft_target('$sdir') WHERE name = 'id-42'")
    assert(sAuto.as[(String, Int)].collect().toSeq == Seq("id-42" -> 42))
    val sAll = MergeWriter.readTarget(s2, sdir).get.inputFiles.toSet
    assert(sAuto.inputFiles.length < sAll.size)
    // a NULL lookup key matches nothing — including the row whose key
    // is literally the string 'null'
    assert(s2.sql(s"SELECT * FROM graft_target_lookup('$sdir', NULL)").count() == 0)
    assert(s2.sql(s"SELECT n FROM graft_target_lookup('$sdir', 'null')")
      .as[Int].collect().toSeq == Seq(0))

    // additive schema evolution: a point lookup hitting only un-evolved
    // buckets still carries the full snapshot schema (added col = null)
    MergeWriter.merge(spark, dir,
      Seq((7L, "v7b", 0L, "extra7")).toDF("k", "v", "w", "x")
        .withColumn("ord", org.apache.spark.sql.functions.lit(2)),
      "k", "ord", buckets = 16)
    val evolved = s2.sql(s"SELECT k, v, x FROM graft_target('$dir') WHERE k = 99")
    assert(evolved.schema.fieldNames.toSeq == Seq("k", "v", "x"))
    assert(evolved.as[(Long, String, Option[String])].collect().toSeq ==
      Seq((99L, "v99", None)))
    assert(s2.sql(s"SELECT x FROM graft_target('$dir') WHERE k = 7")
      .as[String].collect().toSeq == Seq("extra7"))

    // time-travel point lookups prune too: the 2-arg graft_target defers
    // through the same node (version pinned), so a point read against an
    // old version costs O(keys) buckets — not a full version-0 scan.
    // Version 0 predates the k=7 update AND the added column x.
    val v0All = MergeWriter.readTargetAt(s2, dir, 0).get.inputFiles.toSet
    val ttAuto = s2.sql(s"SELECT k, v FROM graft_target('$dir', 0) WHERE k = 7")
    assert(ttAuto.as[(Long, String)].collect().toSeq == Seq(7L -> "v7"))
    assert(ttAuto.inputFiles.toSet.subsetOf(v0All) && ttAuto.inputFiles.length < v0All.size,
      s"time-travel point lookup read ${ttAuto.inputFiles.length}/${v0All.size} files")
    // non-point time-travel reads still see the whole old snapshot
    assert(s2.sql(s"SELECT count(*) FROM graft_target('$dir', 0)")
      .collect().head.getLong(0) == 400L)

    // graft_target_lookup_at: the TVF twin of the versioned point read —
    // pinned to v0 (before the k=7 update), pruned to the wanted buckets
    val ttTvf = s2.sql(s"SELECT k, v FROM graft_target_lookup_at('$dir', 0, 7, 99) ORDER BY k")
    assert(ttTvf.as[(Long, String)].collect().toSeq == Seq(7L -> "v7", 99L -> "v99"))
    assert(ttTvf.inputFiles.toSet.subsetOf(v0All) && ttTvf.inputFiles.length < v0All.size,
      s"versioned TVF lookup read ${ttTvf.inputFiles.length}/${v0All.size} files")
    // the current-version TVF sees the update the pinned one predates
    assert(s2.sql(s"SELECT v FROM graft_target_lookup('$dir', 7)")
      .as[String].collect().toSeq == Seq("v7b"))
    // a vacuumed/never-written version raises instead of returning empty
    intercept[Exception] {
      s2.sql(s"SELECT * FROM graft_target_lookup_at('$dir', 99, 7)").collect()
    }
  }

  test("point lookup finds every stored key (driver/executor hash parity fuzz)") {
    // pruning correctness rests on the driver-side bucket computation
    // agreeing with the writer's executor-side pmod(hash(key), B) for
    // every value — a silent divergence (seed, cast, sign handling)
    // would make lookups return empty instead of failing loudly
    import graft.merge.MergeWriter
    val rnd = new scala.util.Random(42)
    val longKeys = (1 to 200).map(_ => rnd.nextLong()).distinct
    val ldir = java.nio.file.Files.createTempDirectory("hash_parity_l").toString
    MergeWriter.merge(spark, ldir,
      longKeys.map(k => (k, s"v$k")).toDF("k", "v")
        .withColumn("ord", org.apache.spark.sql.functions.lit(1)),
      "k", "ord", buckets = 32)
    longKeys.grouped(40).foreach { chunk =>
      val found = MergeWriter.readTargetKeys(spark, ldir, chunk).get
        .select($"k").as[Long].collect().toSet
      assert(found == chunk.toSet, s"missing: ${chunk.toSet -- found}")
    }
    // a malformed key matches nothing — it must not throw, even under
    // Spark 4's default ANSI cast semantics
    assert(MergeWriter.readTargetKeys(spark, ldir, Seq("not-a-long")).get.count() == 0)
    assert(MergeWriter.readTargetKeys(spark, ldir,
      Seq("not-a-long", longKeys.head)).get.count() == 1)

    val alphabet = "aZ9_-. ăßçşå日本語наб√é€"
    val strKeys = (1 to 200).map(_ =>
      (1 to 1 + rnd.nextInt(24)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
      .distinct
    val sdir = java.nio.file.Files.createTempDirectory("hash_parity_s").toString
    MergeWriter.merge(spark, sdir,
      strKeys.map(k => (k, k.length)).toDF("k", "n")
        .withColumn("ord", org.apache.spark.sql.functions.lit(1)),
      "k", "ord", buckets = 32)
    strKeys.grouped(40).foreach { chunk =>
      val found = MergeWriter.readTargetKeys(spark, sdir, chunk).get
        .select($"k").as[String].collect().toSet
      assert(found == chunk.toSet, s"missing: ${chunk.toSet -- found}")
    }
  }

  test("date-keyed targets look up via typed DATE literals") {
    // the TVF evals literals to catalyst-INTERNAL values (a DATE is a
    // days-int): without external conversion the lookup would hash and
    // compare a nonsense key and silently return nothing
    import graft.merge.MergeWriter
    val ddir = java.nio.file.Files.createTempDirectory("target_lookup_date").toString
    val rows = (1 to 120).map(i => (java.sql.Date.valueOf(
      java.time.LocalDate.of(2024, 1, 1).plusDays(i)), i))
    MergeWriter.merge(spark, ddir, rows.toDF("d", "n")
      .withColumn("ord", org.apache.spark.sql.functions.lit(1)),
      "d", "ord", buckets = 8)
    val s2 = graft.plans.SiblingSession.withExtensions(spark, new graft.plans.GraftExtensions)
    assert(s2.sql(s"SELECT n FROM graft_target_lookup('$ddir', DATE '2024-02-15')")
      .as[Int].collect().toSeq == Seq(45))
    val auto = s2.sql(s"SELECT n FROM graft_target('$ddir') WHERE d = DATE '2024-03-01'")
    assert(auto.as[Int].collect().toSeq == Seq(60))
    assert(auto.inputFiles.length < MergeWriter.readTarget(s2, ddir).get.inputFiles.length)
  }

  test("maintenance statements validate their target and retention") {
    val s2 = graft.plans.SiblingSession.withExtensions(spark, new graft.plans.GraftExtensions)
    // VACUUM KEEP 0 would reclaim the current version — rejected
    val dir = java.nio.file.Files.createTempDirectory("maint_guard").toString
    import spark.implicits._
    graft.merge.MergeWriter.merge(spark, dir,
      Seq((1L, "a")).toDF("k", "v").withColumn("ord", org.apache.spark.sql.functions.lit(1)),
      "k", "ord")
    intercept[IllegalArgumentException] { s2.sql(s"VACUUM '$dir' KEEP 0").collect() }
    assert(graft.merge.MergeWriter.readTarget(s2, dir).get.count() == 1)
    // mistyped paths error instead of reporting success
    intercept[IllegalArgumentException] { s2.sql("COMPACT '/nope/missing'").collect() }
    intercept[IllegalArgumentException] { s2.sql("VACUUM '/nope/missing'").collect() }
  }

  test("native dot product matches the HOF formulation exactly") {
    val e = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet").limit(50).cache()
    val hof = e.select($"vec_id",
      aggregate(zip_with($"embedding", $"embedding", (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x).as("d"))
    val native = e.select($"vec_id", graft.functions.VectorFns.dot($"embedding", $"embedding").as("d"))
    val joined = hof.as("h").join(native.as("n"), "vec_id")
      .select(($"h.d" === $"n.d").as("eq")).as[Boolean].collect()
    assert(joined.nonEmpty && joined.forall(identity))
  }

  test("MERGE matched-branch order: first applicable clause wins (T-SQL)") {
    import graft.merge.MergeWriter
    val s2 = graft.plans.SiblingSession.withExtensions(spark, new graft.plans.GraftExtensions)
    import s2.implicits._
    def seed(dir: String): Unit = {
      Seq((1L, "keep"), (2L, "drop")).toDF("k", "v")
        .createOrReplaceTempView("mo_seed")
      s2.sql(s"MERGE INTO '$dir' USING mo_seed ON k BUCKETS 4").collect()
    }
    def state(dir: String): Map[Long, String] = MergeWriter.readTarget(s2, dir).get
      .select($"k", $"v").as[(Long, String)].collect().toMap
    Seq((1L, "updated"), (2L, "updated")).toDF("k", "v")
      .createOrReplaceTempView("mo_batch")

    // UPDATE listed first with a condition: rows its condition selects
    // UPDATE; only rejected rows reach the DELETE clause
    val d1 = java.nio.file.Files.createTempDirectory("merge_ord1").toString
    seed(d1)
    s2.sql(s"MERGE INTO '$d1' USING mo_batch ON k " +
      "WHEN MATCHED AND k = 1 THEN UPDATE SET * " +
      "WHEN MATCHED THEN DELETE").collect()
    assert(state(d1) == Map(1L -> "updated"), "update-first must update k=1, delete k=2")

    // same clauses, DELETE listed first: the unconditional delete now
    // outranks the update for every matched row
    val d2 = java.nio.file.Files.createTempDirectory("merge_ord2").toString
    seed(d2)
    s2.sql(s"MERGE INTO '$d2' USING mo_batch ON k " +
      "WHEN MATCHED THEN DELETE " +
      "WHEN MATCHED AND k = 1 THEN UPDATE SET *").collect()
    assert(state(d2) == Map.empty, "delete-first must delete both matched rows")
  }

  test("first merge with an INSERT column list defines new target columns") {
    import graft.merge.MergeWriter
    val s2 = graft.plans.SiblingSession.withExtensions(spark, new graft.plans.GraftExtensions)
    import s2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("merge_first_ins").toString
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").createOrReplaceTempView("fi_src")
    // 'tagged' exists in neither source nor (nonexistent) target: on a
    // FIRST merge the INSERT list is where the schema gets defined
    s2.sql(s"MERGE INTO '$dir' USING fi_src ON k " +
      "WHEN NOT MATCHED THEN INSERT (k, v, tagged) VALUES (s.k, upper(s.v), 'new')").collect()
    val t = MergeWriter.readTarget(s2, dir).get
    assert(t.select($"k", $"v", $"tagged").as[(Long, String, String)].collect().toSet ==
      Set((1L, "A", "new"), (2L, "B", "new")))
    // on an EXISTING target the typo protection still raises
    Seq((3L, "c")).toDF("k", "v").createOrReplaceTempView("fi_src2")
    val err = intercept[Exception](s2.sql(s"MERGE INTO '$dir' USING fi_src2 ON k " +
      "WHEN NOT MATCHED THEN INSERT (k, v, taged) VALUES (s.k, s.v, 'x')").collect())
    assert(err.getMessage.contains("taged"))
  }

  test("EXPORT CORPUS statement materializes manifest-published shards") {
    import graft.export.CorpusExport
    val s2 = graft.plans.SiblingSession.withExtensions(spark, new graft.plans.GraftExtensions)
    val dir = java.nio.file.Files.createTempDirectory("export_sql").toString + "/out"
    s2.read.parquet(sf("sf0.001") + "/documents.parquet")
      .createOrReplaceTempView("exp_docs")
    val rows = s2.sql(
      s"EXPORT CORPUS exp_docs TO '$dir' SHARDS 3 ORDER BY n_chars DESC, doc_id")
      .collect()
    assert(rows.length == 3)
    val m = CorpusExport.readManifest(dir).get
    assert(m.totalRows == s2.table("exp_docs").count())
    assert(rows.map(_.getAs[String]("sha256")).toSet ==
      m.entries.map(_.sha256).toSet)
    assert(CorpusExport.verify(s2, dir))
    // published exports are immutable without OVERWRITE
    intercept[Exception](s2.sql(
      s"EXPORT CORPUS exp_docs TO '$dir' SHARDS 3 ORDER BY n_chars DESC, doc_id").collect())
    val again = s2.sql(s"EXPORT CORPUS exp_docs TO '$dir' SHARDS 3 " +
      "ORDER BY n_chars DESC, doc_id OVERWRITE").collect()
    assert(again.map(_.getAs[String]("sha256")).toSeq ==
      rows.map(_.getAs[String]("sha256")).toSeq, "re-export must be byte-identical")
    // OVERWRITE is reserved: a trailing sort column of that name must
    // raise loudly, never silently drop from the sort AND overwrite
    val reserved = intercept[Exception](s2.sql(
      s"EXPORT CORPUS exp_docs TO '$dir' SHARDS 3 ORDER BY doc_id, overwrite").collect())
    assert(reserved.getMessage.contains("reserved"))
    // FORMAT jsonl routes to the line-oriented writer
    val jdir = java.nio.file.Files.createTempDirectory("export_jsql").toString + "/out"
    val jrows = s2.sql(s"EXPORT CORPUS exp_docs TO '$jdir' SHARDS 2 " +
      "FORMAT jsonl ORDER BY doc_id").collect()
    assert(jrows.length == 2 &&
      jrows.forall(_.getAs[String]("file").endsWith(".jsonl")))
    assert(CorpusExport.read(s2, jdir).count() == m.totalRows)
    val badFmt = intercept[Exception](s2.sql(
      s"EXPORT CORPUS exp_docs TO '$jdir' SHARDS 2 FORMAT csv ORDER BY doc_id OVERWRITE").collect())
    assert(badFmt.getMessage.contains("parquet or jsonl"))
  }

  test("graft_profile TVF profiles a parquet table, full and column-subset") {
    val s2 = graft.plans.SiblingSession.withExtensions(spark, new graft.plans.GraftExtensions)
    val p = sf("sf0.001") + "/documents.parquet"
    val full = s2.sql(s"SELECT * FROM graft_profile('$p') ORDER BY column")
      .collect().map(r => r.getAs[String]("column") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("n_nulls"))).toMap
    val nDocs = s2.read.parquet(p).count()
    assert(full.keySet == s2.read.parquet(p).columns.toSet)
    assert(full.values.forall { case (rows, nulls) => rows == nDocs && nulls == 0L })
    val subset = s2.sql(
      s"SELECT column, n_distinct FROM graft_profile('$p', 'lang, source') ORDER BY column")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(subset.map(_._1) == Seq("lang", "source"))
    assert(subset.forall(_._2 > 0))
    val err = intercept[Exception](s2.sql(s"SELECT * FROM graft_profile('$p', 'nope')").collect())
    assert(err.getMessage.contains("no such column"))
  }

  test("COMPACT STREAMS folds every streaming store through the SQL surface") {
    val work = java.nio.file.Files.createTempDirectory("graft_compact_streams").toString
    // text ingest: 4 batches, 2 distinct 12-token docs each (long
    // enough to shingle → band index leaves), ledger on
    val ingest = new graft.streaming.StreamingDedupIngest(spark, work,
      simThreshold = 0.9, ledger = true)
    def doc(i: Long) = (1 to 12).map(t => s"w$i$t").mkString(" ")
    for (b <- 0L to 3L)
      ingest.processBatch(Seq(b * 10 + 1, b * 10 + 2)
        .map(i => (i, doc(i))).toDF("doc_id", "text"), b)
    // embedding gate in the SAME work dir: 4 batches of angle-spread
    // vectors (min pairwise angle 0.1 rad → cosine ≤ 0.9950 < 0.999,
    // nothing drops)
    val cents = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f))).toDF("id", "vec")
    val gate = new graft.streaming.StreamingEmbedIngest(spark, work, cents,
      simThreshold = 0.999, nprobe = 1)
    def vec(i: Long) = Array(math.cos(i * 0.1).toFloat, math.sin(i * 0.1).toFloat)
    for (b <- 0L to 3L)
      gate.processBatch(Seq(b * 10 + 1, b * 10 + 2)
        .map(i => (i, vec(i))).toDF("id", "vec"), b)
    val admittedBefore = ingest.admitted().get.count()
    assert(admittedBefore == 8 && gate.admitted().count() == 8)

    val s2 = graft.plans.SiblingSession.withExtensions(spark, new graft.plans.GraftExtensions)
    val res = s2.sql(s"COMPACT STREAMS '$work'").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // novelty gate was off → no gram store; everything else folds
    // 4 → 2: leaves 0-2 consolidate, the NEWEST batch leaf (id 3) is
    // never folded — a crash-replay of the latest batch must still be
    // able to exclude its own leaf by name (batch_id=3), which a
    // consolidated segment cannot honor
    assert(res.keySet == Set("band_index", "admitted", "ledger", "vector_index"),
      res.toString)
    res.foreach { case (store, (before, after)) =>
      assert(before == 4 && after == 2, s"$store: $before -> $after")
    }
    // state survives the fold byte-for-byte at the contract level
    assert(ingest.admitted().get.count() == admittedBefore)
    assert(gate.admitted().select("id").as[Long].collect().toSet ==
      Set(1L, 2L, 11L, 12L, 21L, 22L, 31L, 32L))
    assert(ingest.ledgerFrame().get.count() == 8)
    // a dir with no streaming stores is refused, not silently empty
    intercept[Exception] { s2.sql(s"COMPACT STREAMS '${work}_nope'").collect() }
  }

  test("COMPACT STREAMS folds the vector index in the generation a retrain published") {
    val work = java.nio.file.Files.createTempDirectory("graft_compact_streams_gen").toString
    // an embedding gate alone: 2 batches, a retrain to generation 1,
    // then 3 more batches — the retrained segment plus 3 batch leaves
    val cents = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f))).toDF("id", "vec")
    val gate = new graft.streaming.StreamingEmbedIngest(spark, work, cents,
      simThreshold = 0.999, nprobe = 1)
    def vecs(b: Long) = Seq(b * 10 + 1, b * 10 + 2)
      .map(i => (i, Array(math.cos(i * 0.1).toFloat, math.sin(i * 0.1).toFloat))).toDF("id", "vec")
    for (b <- 0L to 1L) gate.processBatch(vecs(b), b)
    assert(gate.store.retrain(vecs(0).union(vecs(1)), "id", "vec", k = 2) == 1L)
    for (b <- 2L to 4L) gate.processBatch(vecs(b), b)
    def probe() = gate.store.probe((0L to 4L).map(vecs).reduce(_ union _), "id", "vec",
      k = 3, nprobe = 2).collect().map(_.toSeq).toSet
    val before = probe()

    val s2 = graft.plans.SiblingSession.withExtensions(spark, new graft.plans.GraftExtensions)
    val res = s2.sql(s"COMPACT STREAMS '$work'").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(res == Map("vector_index" -> ((4L, 2L))), res.toString)
    assert(probe() == before, "the fold changed probe results")
  }

  test("COMPACT VECTORS / VACUUM VECTORS maintain a standalone store via SQL") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vec_sql").toString
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val store = new graft.sim.VectorIndexStore(spark, dir)
    store.create(emb.filter($"vec_id" < 20), emb.filter($"vec_id" < 8),
      "vec_id", "embedding")
    store.add(1L, emb.filter($"vec_id" >= 20 && $"vec_id" < 30), "vec_id", "embedding")
    store.delete(2L, emb.filter($"vec_id" === 25), "vec_id")
    val liveBefore = store.codes().count()

    val s2 = graft.plans.SiblingSession.withExtensions(spark, new graft.plans.GraftExtensions)
    // COMPACT folds 2 leaves → 1, reclaims the tombstoned row's bytes,
    // keeps the tombstone (delete stays final)
    val c = s2.sql(s"COMPACT VECTORS '$dir'").collect()
    assert(c.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((2L, 1L, 1L)), c.mkString(","))
    assert(store.codes().count() == liveBefore)
    // VACUUM purges the tombstone; live set unchanged
    val v = s2.sql(s"VACUUM VECTORS '$dir'").collect()
    assert(v.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 1L, 0L)), v.mkString(","))
    assert(store.codes().count() == liveBefore)
    // a dir without a store is refused loudly
    intercept[Exception] { s2.sql(s"VACUUM VECTORS '${dir}_nope'").collect() }
  }

  test("DESCRIBE VECTORS reports generation/cells/leaves/live/tombstones read-only") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vec_desc").toString
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val store = new graft.sim.VectorIndexStore(spark, dir)
    val s2 = graft.plans.SiblingSession.withExtensions(spark, new graft.plans.GraftExtensions)
    def describe(): (Long, Long, Long, Long, Long) = {
      val r = s2.sql(s"DESCRIBE VECTORS '$dir'").collect()
      assert(r.length == 1)
      (r(0).getLong(0), r(0).getLong(1), r(0).getLong(2), r(0).getLong(3), r(0).getLong(4))
    }
    // init'ed-but-empty is legal for DESCRIBE (0 leaves / 0 live),
    // unlike probes which refuse
    store.init(emb.filter($"vec_id" < 8), "vec_id", "embedding")
    assert(describe() == ((0L, 8L, 0L, 0L, 0L)))
    store.add(0L, emb.filter($"vec_id" < 20), "vec_id", "embedding")
    store.add(1L, emb.filter($"vec_id" >= 20 && $"vec_id" < 30), "vec_id", "embedding")
    store.delete(2L, emb.filter($"vec_id" === 25), "vec_id")
    val live = store.codes().count()
    assert(describe() == ((0L, 8L, 2L, live, 1L)))
    // read-only: a second DESCRIBE sees the identical state
    assert(describe() == ((0L, 8L, 2L, live, 1L)))
    // the numbers track maintenance: vacuum purges the tombstone and
    // folds to one leaf
    store.vacuum()
    assert(describe() == ((0L, 8L, 1L, live, 0L)))
    // a dir without a store refuses loudly, naming the statement
    val e = intercept[Exception] {
      s2.sql(s"DESCRIBE VECTORS '${dir}_nope'").collect()
    }
    assert(e.getMessage.contains("DESCRIBE VECTORS"), e.getMessage)
  }

  test("CHECK EXPECTATIONS runs the data-contract suite on a parquet table via SQL") {
    val dir = java.nio.file.Files.createTempDirectory("graft_expect_sql").toString
    // the OpsSpec Expect fixture, written to parquet: null key, two
    // range breaks (0 and 60), one regex break (zz), duplicate k=1
    Seq((Option(1L), 10L, "A"), (Option(2L), 60L, "B"),
        (Option.empty[Long], 5L, "A"), (Option(1L), 20L, "zz"),
        (Option(4L), 0L, "A"))
      .toDF("k", "qty", "flag")
      .write.parquet(s"$dir/t.parquet")

    val s2 = graft.plans.SiblingSession.withExtensions(spark, new graft.plans.GraftExtensions)
    val out = s2.sql(s"CHECK EXPECTATIONS ON '$dir/t.parquet' " +
        "(NOT NULL k, RANGE qty 1 50, MATCHES flag '[A,B]', UNIQUE (k, flag), UNIQUE k)")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    // the MATCHES regex deliberately carries a comma ([A,B]) and the
    // UNIQUE a paren group — the check-list splitter must not split
    // inside either; [A,B] as a character class still admits only A/B
    assert(out == Map(
      "not_null:k" -> ((5L, 1L, false)),
      "in_range:qty" -> ((5L, 2L, false)),
      "matches:flag" -> ((5L, 1L, false)),
      "unique:k,flag" -> ((5L, 0L, true)),
      "unique:k" -> ((5L, 1L, false))), out.toString)
    // a clean contract passes
    val clean = s2.sql(s"CHECK EXPECTATIONS ON '$dir/t.parquet' (RANGE qty 0 60)")
      .collect()
    assert(clean.length == 1 && clean(0).getBoolean(3))
    // unknown column and unknown check verb both refuse loudly
    intercept[Exception] {
      s2.sql(s"CHECK EXPECTATIONS ON '$dir/t.parquet' (NOT NULL nope)").collect()
    }
    intercept[Exception] {
      s2.sql(s"CHECK EXPECTATIONS ON '$dir/t.parquet' (FROBNICATE k)").collect()
    }
  }

  test("REFRESH VECTORS retrains a store's centroids end-to-end via SQL") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vec_refresh").toString
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val store = new graft.sim.VectorIndexStore(spark, dir)
    store.create(emb.filter($"vec_id" < 30), emb.filter($"vec_id" < 4),
      "vec_id", "embedding")
    val liveBefore = store.codes().count()
    assert(store.currentGen == 0L)

    val s2 = graft.plans.SiblingSession.withExtensions(spark, new graft.plans.GraftExtensions)
    // temp views are per-session: register through the SQL session
    s2.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .createOrReplaceTempView("graft_refresh_emb")
    // K 6 re-clusters the 4-cell store into 6 cells in generation 1;
    // the row count is unchanged (every live id re-encoded)
    val r = s2.sql(s"REFRESH VECTORS '$dir' USING graft_refresh_emb " +
      "ID vec_id VEC embedding K 6").collect()
    assert(r.length == 1, r.mkString(","))
    assert(r(0).getLong(0) == 1L, s"generation: ${r(0)}")
    // kmeansFit may drop a centroid that loses every member, so the
    // cell count is <= K but re-clustered past the original 4
    assert(r(0).getLong(1) >= 2L && r(0).getLong(1) <= 6L, s"cells: ${r(0)}")
    assert(r(0).getLong(2) == liveBefore, s"rows: ${r(0)}")
    assert(store.currentGen == 1L)
    assert(store.centroidsFrame().count() == r(0).getLong(1))
    // the refreshed store still probes (structure is healthy)
    assert(store.probe(emb.filter($"vec_id" === 0), "vec_id", "embedding",
      2, nprobe = 2).count() == 2L)
    // a dir without a store is refused loudly
    intercept[Exception] {
      s2.sql(s"REFRESH VECTORS '${dir}_nope' USING graft_refresh_emb " +
        "ID vec_id VEC embedding").collect()
    }
  }

  test("PREDICT JOIN forecasts exact equi-join output rows via SQL, never running the join") {
    val li = sf("sf0.001") + "/lineitem.parquet"
    val ord = sf("sf0.001") + "/orders.parquet"
    val s2 = graft.plans.SiblingSession.withExtensions(spark, new graft.plans.GraftExtensions)
    // lineitem ⋈ lineitem on l_partkey — the q_join_cardinality
    // explosion fixture: prediction must equal the realized count
    val rows = s2.sql(s"PREDICT JOIN '$li' AND '$li' ON l_partkey TOP 3").collect()
    assert(rows.length == 3 && rows(0).getLong(0) == 1L)
    val total = rows(0).getLong(5) * 1000000000000000000L + rows(0).getLong(6)
    val realized = spark.read.parquet(li).select($"l_partkey").as("a")
      .join(spark.read.parquet(li).select($"l_partkey").as("b"), "l_partkey")
      .count()
    assert(total == realized, s"predicted $total != realized $realized")
    // different key names on the two sides (ON a = b form)
    val lo = s2.sql(s"PREDICT JOIN '$li' AND '$ord' ON l_orderkey = o_orderkey TOP 1")
      .collect()
    val realized2 = spark.read.parquet(li).select($"l_orderkey".as("k"))
      .join(spark.read.parquet(ord).select($"o_orderkey".as("k")), "k").count()
    assert(lo(0).getLong(5) * 1000000000000000000L + lo(0).getLong(6) == realized2)
    // unknown column refuses loudly, naming the statement
    val e = intercept[Exception] {
      s2.sql(s"PREDICT JOIN '$li' AND '$li' ON nope").collect()
    }
    assert(e.getMessage.contains("PREDICT JOIN"), e.getMessage)
  }

  test("PROFILE SKEW statement audits a parquet table's key distribution via SQL") {
    val dir = java.nio.file.Files.createTempDirectory("graft_skew_sql").toString
    // counts {a:1, b:1, c:2, d:4} — the keySkewProfile hand case:
    // gini = 312500 ppm, d owns 500000 ppm
    (Seq.fill(1)("a") ++ Seq.fill(1)("b") ++ Seq.fill(2)("c") ++ Seq.fill(4)("d"))
      .toDF("k").write.mode("overwrite").parquet(dir)
    val s2 = graft.plans.SiblingSession.withExtensions(spark, new graft.plans.GraftExtensions)
    val top = s2.sql(s"PROFILE SKEW '$dir' ON k TOP 2").collect()
    assert(top.length == 2)
    assert(top.head.getLong(0) == 1L && top.head.getString(1) == "d" &&
      top.head.getLong(2) == 4L && top.head.getLong(3) == 500000L &&
      top.head.getLong(4) == 4L && top.head.getLong(5) == 312500L,
      top.mkString(","))
    // default TOP is 20: all 4 keys come back, ranked
    val all = s2.sql(s"PROFILE SKEW '$dir' ON k").collect()
    assert(all.length == 4 && all.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    // a missing column is refused loudly, naming the real ones
    val err = intercept[Exception] {
      s2.sql(s"PROFILE SKEW '$dir' ON nope").collect()
    }
    assert(err.getMessage.contains("no column 'nope'"), err.getMessage)
  }

  test("native expressions stay inside whole-stage codegen") {
    val e = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val plan = e.select(graft.functions.VectorFns.cosine($"embedding", $"embedding"))
      .queryExecution.executedPlan.toString
    // "*(n)" marks a WholeStageCodegen span in the string plan; the
    // native expressions must sit inside one, not fall back
    assert(plan.contains("*(1) Project") && plan.contains("dot_f32"))
  }
}
