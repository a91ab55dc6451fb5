package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.Streams
import graft.util.SparkMeter

/** Structured Streaming semantics driven synchronously via
  * MemoryStream + processAllAvailable.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp = new Timestamp(1700000000000L + minute * 60000L)

  test("file-stream ingestion picks up landing files (AvailableNow)") {
    val dir = Files.createTempDirectory("graft_stream").toString
    Files.writeString(java.nio.file.Paths.get(dir, "a.csv"),
      "order_id,customer_id,amount,order_date\nO1,C1,10,2024-01-01\nO2,C2,20,2024-01-02\n")
    val q = Streams.ordersFileStream(spark, dir)
      .writeStream.format("memory").queryName("orders_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.table("orders_stream").count() == 2)
  }

  test("watermarked hourly window aggregates by event time") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val q = Streams.hourlyEventCounts(df)
      .writeStream.format("memory").queryName("hourly").outputMode("append").start()
    mem.addData((ts(0), "click", 1.0), (ts(10), "click", 2.0), (ts(70), "view", 5.0))
    // advance watermark far enough to close the first hour window
    mem.addData((ts(400), "view", 1.0))
    q.processAllAvailable()
    val closed = spark.table("hourly").filter($"event_type" === "click").collect()
    assert(closed.length == 1)
    assert(closed(0).getAs[Long]("n") == 2)
    q.stop()
  }

  test("streaming merge sink upserts each micro-batch into the bucketed target") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double)]
    val df = mem.toDF().toDF("k", "v", "amount")
    val target = Files.createTempDirectory("graft_stream_merge").resolve("t").toString
    val ckpt = Files.createTempDirectory("graft_stream_ckpt").toString
    val q = graft.streaming.StreamingMergeSink.start(df, target, "k", ckpt, buckets = 8)
    try {
      // batch 1: inserts, including an intra-batch duplicate (last wins)
      mem.addData((1L, "a", 10.0), (2L, "b", 20.0), (2L, "b2", 21.0))
      q.processAllAvailable()
      val after1 = graft.merge.MergeWriter.readTarget(spark, target).get
        .select($"k", $"v").as[(Long, String)].collect().toMap
      assert(after1 == Map(1L -> "a", 2L -> "b2"))
      // batch 2: update one key, insert another — CDC-style upsert
      mem.addData((2L, "c", 22.0), (3L, "d", 30.0))
      q.processAllAvailable()
      val after2 = graft.merge.MergeWriter.readTarget(spark, target).get
        .select($"k", $"v", $"amount").as[(Long, String, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(after2 == Map(1L -> ("a", 10.0), 2L -> ("c", 22.0), 3L -> ("d", 30.0)))
      // each micro-batch is one target version: point lookups see the
      // merged state through the same read path as the batch engine
      assert(graft.merge.MergeWriter.readTargetKeys(spark, target, Seq(2L)).get
        .select($"v").as[String].collect().toSeq == Seq("c"))
    } finally q.stop()
  }

  test("streaming merge sink applies CDC tombstones: deletes remove keys idempotently") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Boolean)]
    val df = mem.toDF().toDF("k", "v", "is_del")
    val target = Files.createTempDirectory("graft_stream_del").resolve("t").toString
    val ckpt = Files.createTempDirectory("graft_stream_del_ckpt").toString
    val q = graft.streaming.StreamingMergeSink.start(df, target, "k", ckpt,
      buckets = 8, deleteCol = Some("is_del"))
    def state(): Map[Long, String] = graft.merge.MergeWriter.readTarget(spark, target).get
      .select($"k", $"v").as[(Long, String)].collect().toMap
    try {
      mem.addData((1L, "a", false), (2L, "b", false), (3L, "c", false))
      q.processAllAvailable()
      assert(state() == Map(1L -> "a", 2L -> "b", 3L -> "c"))
      // a change batch with mixed actions: delete 2, update 3, insert 4,
      // and a tombstone for a key that never existed (no-op, no insert)
      mem.addData((2L, "b", true), (3L, "c2", false), (4L, "d", false), (9L, "x", true))
      q.processAllAvailable()
      assert(state() == Map(1L -> "a", 3L -> "c2", 4L -> "d"))
      // intra-batch: delete then re-insert the same key — LATEST action
      // wins (source order), so the key survives with the new value
      mem.addData((4L, "d", true), (4L, "d2", false))
      q.processAllAvailable()
      assert(state() == Map(1L -> "a", 3L -> "c2", 4L -> "d2"))
      // point lookup of a deleted key through the pruned read path
      assert(graft.merge.MergeWriter.readTargetKeys(spark, target, Seq(2L)).get.count() == 0)
    } finally q.stop()
  }

  test("streaming merge sink upserts on composite keys with tombstones") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Int, String, Boolean)]
    val df = mem.toDF().toDF("tenant", "id", "v", "is_del")
    val target = Files.createTempDirectory("graft_stream_comp").resolve("t").toString
    val ckpt = Files.createTempDirectory("graft_stream_comp_ckpt").toString
    val q = graft.streaming.StreamingMergeSink.startByKeys(df, target,
      Seq("tenant", "id"), ckpt, buckets = 4, deleteCol = Some("is_del"))
    def state(): Map[(Long, Int), String] = graft.merge.MergeWriter.readTarget(spark, target)
      .get.select($"tenant", $"id", $"v").as[(Long, Int, String)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    try {
      mem.addData((1L, 1, "a", false), (1L, 2, "b", false), (2L, 1, "c", false))
      q.processAllAvailable()
      assert(state() == Map((1L, 1) -> "a", (1L, 2) -> "b", (2L, 1) -> "c"))
      // tenant 1's delete of id=1 must not touch tenant 2's id=1
      mem.addData((1L, 1, "x", true), (2L, 1, "c2", false))
      q.processAllAvailable()
      assert(state() == Map((1L, 2) -> "b", (2L, 1) -> "c2"))
      // composite tuple lookup through the pruned read path
      assert(graft.merge.MergeWriter.readTargetTuples(spark, target, Seq(Seq(2L, 1)))
        .get.select($"v").as[String].collect().toSeq == Seq("c2"))
    } finally q.stop()
  }

  test("streaming merge sink partial-column updates keep unlisted target columns") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double)]
    val df = mem.toDF().toDF("k", "status", "amount")
    val target = Files.createTempDirectory("graft_stream_part").resolve("t").toString
    val ckpt = Files.createTempDirectory("graft_stream_part_ckpt").toString
    // sparse CDC: only `amount` carries changes — matched rows keep
    // their target `status`, inserts take the full stream row
    val q = graft.streaming.StreamingMergeSink.start(df, target, "k", ckpt,
      buckets = 4, updateCols = Some(Seq("amount" -> "amount")))
    def state(): Map[Long, (String, Double)] = graft.merge.MergeWriter
      .readTarget(spark, target).get
      .select($"k", $"status", $"amount").as[(Long, String, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    try {
      mem.addData((1L, "new", 10.0), (2L, "new", 20.0))
      q.processAllAvailable()
      assert(state() == Map(1L -> (("new", 10.0)), 2L -> (("new", 20.0))))
      // k=1 re-priced (status must NOT become "IGNORED"), k=3 inserted
      mem.addData((1L, "IGNORED", 11.5), (3L, "new", 30.0))
      q.processAllAvailable()
      assert(state() == Map(
        1L -> (("new", 11.5)), 2L -> (("new", 20.0)), 3L -> (("new", 30.0))))
    } finally q.stop()
  }

  test("streaming merge sink conditional updates skip non-firing matched rows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Boolean)]
    val df = mem.toDF().toDF("k", "v", "apply_upd")
    val target = Files.createTempDirectory("graft_stream_cond").resolve("t").toString
    val ckpt = Files.createTempDirectory("graft_stream_cond_ckpt").toString
    val q = graft.streaming.StreamingMergeSink.start(df, target, "k", ckpt,
      buckets = 4, updateCondCol = Some("apply_upd"))
    def state(): Map[Long, String] = graft.merge.MergeWriter.readTarget(spark, target)
      .get.select($"k", $"v").as[(Long, String)].collect().toMap
    try {
      mem.addData((1L, "a", true), (2L, "b", true))
      q.processAllAvailable()
      assert(state() == Map(1L -> "a", 2L -> "b"))
      // k=1's change is guarded off (target keeps "a"), k=2's fires,
      // k=3 inserts regardless of its guard value
      mem.addData((1L, "STALE", false), (2L, "b2", true), (3L, "c", false))
      q.processAllAvailable()
      assert(state() == Map(1L -> "a", 2L -> "b2", 3L -> "c"))
    } finally q.stop()
  }

  test("streaming merge sink gated inserts admit only flagged new keys") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Boolean)]
    val df = mem.toDF().toDF("k", "v", "admit")
    val target = Files.createTempDirectory("graft_stream_ins").resolve("t").toString
    val ckpt = Files.createTempDirectory("graft_stream_ins_ckpt").toString
    val q = graft.streaming.StreamingMergeSink.start(df, target, "k", ckpt,
      buckets = 4, insertCondCol = Some("admit"))
    def state(): Map[Long, String] = graft.merge.MergeWriter.readTarget(spark, target)
      .get.select($"k", $"v").as[(Long, String)].collect().toMap
    try {
      mem.addData((1L, "a", true), (2L, "b", false))
      q.processAllAvailable()
      assert(state() == Map(1L -> "a")) // 2 fails the admission gate
      // existing key 1 updates regardless of its gate value; 2 is
      // re-offered with the flag on and lands; 3 stays gated off
      mem.addData((1L, "a2", false), (2L, "b", true), (3L, "c", false))
      q.processAllAvailable()
      assert(state() == Map(1L -> "a2", 2L -> "b"))
    } finally q.stop()
  }

  test("streaming exact dedup drops in-horizon duplicates across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val df = mem.toDF().toDF("ts", "doc_id", "text")
    val q = Streams.dedupStream(df, "ts", "text", watermark = "1 hour")
      .writeStream.format("memory").queryName("dedup_stream").outputMode("append").start()
    mem.addData((ts(0), 1L, "alpha beta"), (ts(1), 2L, "gamma"), (ts(2), 3L, "alpha beta"))
    q.processAllAvailable()
    // batch 2: duplicate of a batch-1 text within the horizon → dropped
    mem.addData((ts(10), 4L, "alpha beta"), (ts(11), 5L, "delta"))
    q.processAllAvailable()
    val kept = spark.table("dedup_stream").select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 5L))
    q.stop()
  }

  test("streaming simhash dedup drops same-signature rewordings, keeps novel docs") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val df = mem.toDF().toDF("ts", "doc_id", "text")
    val q = Streams.simhashDedupStream(df, "ts", "text", watermark = "1 hour")
      .writeStream.format("memory").queryName("simhash_stream").outputMode("append").start()
    // doc 3 reorders doc 1's tokens — same token multiset, same simhash
    mem.addData((ts(0), 1L, "alpha beta gamma delta"), (ts(1), 2L, "epsilon zeta"))
    q.processAllAvailable()
    mem.addData((ts(10), 3L, "delta gamma beta alpha"), (ts(11), 4L, "eta theta"))
    q.processAllAvailable()
    val kept = spark.table("simhash_stream").select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 4L))
    q.stop()
  }

  test("streaming dedup ingest filters vs the persistent band index, idempotently") {
    val work = java.nio.file.Files.createTempDirectory("graft_sdi").toString
    val ingest = new graft.streaming.StreamingDedupIngest(spark, work, simThreshold = 0.5,
      compactEvery = 2)
    val d1 = "the quick brown fox jumps over the lazy dog again and again"
    val d2 = "pack my box with five dozen liquor jugs for the long winter trip"
    // batch 0: two novel docs + an intra-batch near-dup of d1 (first word cut)
    ingest.processBatch(Seq(
      (1L, d1), (2L, d2), (3L, d1.substring(d1.indexOf(' ') + 1))).toDF("doc_id", "text"), 0L)
    assert(ingest.admitted().get.select($"doc_id").as[Long].collect().toSet == Set(1L, 2L))
    // batch 1: near-dup of d2 (vs index) is dropped, novel doc admitted;
    // a steady batch (neither the first nor a fold) within its job ceiling
    val d3 = "a completely different document about spark catalyst and tungsten"
    val jobs = SparkMeter.measure(spark)(ingest.processBatch(Seq(
      (10L, d2.substring(d2.indexOf(' ') + 1)), (11L, d3)).toDF("doc_id", "text"), 1L))._2.jobs.size
    info(s"steady micro-batch ran $jobs jobs")
    assert(jobs <= 9, s"a steady micro-batch ran $jobs jobs, above its ceiling of 9")
    assert(ingest.admitted().get.select($"doc_id").as[Long].collect().toSet == Set(1L, 2L, 11L))
    // replaying batch 1 overwrites its own leaves — same result
    ingest.processBatch(Seq(
      (10L, d2.substring(d2.indexOf(' ') + 1)), (11L, d3)).toDF("doc_id", "text"), 1L)
    assert(ingest.admitted().get.select($"doc_id").as[Long].collect().toSet == Set(1L, 2L, 11L))
    // batch 2 folds batches 0 and 1 first (compactEvery = 2): a near-dup
    // of the folded d3 is still dropped, within the compaction ceiling
    val foldJobs = SparkMeter.measure(spark)(ingest.processBatch(Seq(
      (20L, d3.substring(d3.indexOf(' ') + 1)), (21L, "an unrelated line of text on parquet footers and row groups"))
      .toDF("doc_id", "text"), 2L))._2.jobs.size
    info(s"compaction micro-batch ran $foldJobs jobs")
    assert(foldJobs <= 13, s"a compaction micro-batch ran $foldJobs jobs, above its ceiling of 13")
    assert(ingest.admitted().get.select($"doc_id").as[Long].collect().toSet == Set(1L, 2L, 11L, 21L))
  }

  test("streaming dedup ingest run by start() costs the jobs of a direct processBatch call") {
    // the input and admitted counts are observed on checkpoint jobs; an
    // observation that never arrived under foreachBatch would cost a
    // fallback count job there and show as an extra job per batch, and
    // two lost observations (9 jobs) break the ceiling of 8
    val watch = Files.createTempDirectory("graft_sdi_land")
    val streamed = new graft.streaming.StreamingDedupIngest(spark,
      Files.createTempDirectory("graft_sdi_stream").toString, simThreshold = 0.5)
    val direct = new graft.streaming.StreamingDedupIngest(spark,
      Files.createTempDirectory("graft_sdi_direct").toString, simThreshold = 0.5)
    val d1 = "the quick brown fox jumps over the lazy dog again and again"
    val d2 = "pack my box with five dozen liquor jugs for the long winter trip"
    val d3 = "a completely different document about spark catalyst and tungsten"
    val batches = Seq(
      Seq(1L -> d1, 2L -> d2, 3L -> d1.substring(d1.indexOf(' ') + 1)),
      Seq(10L -> d2.substring(d2.indexOf(' ') + 1), 11L -> d3))
    batches.zipWithIndex.foreach { case (docs, b) =>
      val file = watch.resolve(s"batch$b.json")
      Files.writeString(file, docs.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }
        .mkString("", "\n", "\n"))
      def timed(body: => Unit) = {
        val t0 = System.nanoTime()
        val jobs = SparkMeter.measure(spark)(body)._2.jobs.size
        (jobs, (System.nanoTime() - t0) / 1000000)
      }
      val (streamJobs, streamMs) = timed {
        val q = streamed.start(watch.toString, availableNow = true)
        assert(q.awaitTermination(120000), "the AvailableNow run did not finish")
        assert(q.lastProgress.batchId == b)
      }
      val (directJobs, directMs) = timed(direct.processBatch(
        spark.read.schema("doc_id BIGINT, text STRING").json(file.toString), b.toLong))
      info(s"batch $b: start() $streamJobs jobs in $streamMs ms, processBatch $directJobs jobs in $directMs ms")
      assert(streamJobs == directJobs, s"batch $b ran $streamJobs jobs under start(), $directJobs direct")
      assert(streamJobs <= 8, s"batch $b ran $streamJobs jobs under start(), above its ceiling of 8")
    }
    val ids = Set(1L, 2L, 11L)
    assert(streamed.admitted().get.select($"doc_id").as[Long].collect().toSet == ids)
    assert(direct.admitted().get.select($"doc_id").as[Long].collect().toSet == ids)
  }

  test("streaming ingest compaction bounds leaf dirs; folded docs still dedup; replay idempotent") {
    import scala.jdk.CollectionConverters._
    def doc(i: Int) = s"doc $i unique token alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i"
    val work = Files.createTempDirectory("graft_sdc").toString
    val ingest = new graft.streaming.StreamingDedupIngest(spark, work,
      simThreshold = 0.5, compactEvery = 4)
    def leafCount(dir: String) =
      Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
        .count(_.getFileName.toString.startsWith("batch_id="))
    val batches = (0 until 8).map(b => Seq(b * 10L + 1, b * 10L + 2))
    batches.zipWithIndex.foreach { case (ids, bid) =>
      ingest.processBatch(ids.map(i => (i, doc(i.toInt))).toDF("doc_id", "text"), bid.toLong)
    }
    // compaction fired at batch 4 (folded 0..3): 1 segment + batches 4..7
    assert(leafCount(s"$work/band_index") <= 5)
    assert(leafCount(s"$work/admitted") <= 5)
    // decisions unchanged: a near-dup of a FOLDED doc (batch 0) is still
    // dropped, a novel doc admitted; batch 8 re-compacts (folds the old
    // segment + batches 4..7 into one), so leaf dirs stay bounded
    val nearDup = doc(1).substring(doc(1).indexOf(' ') + 1)
    ingest.processBatch(Seq((900L, nearDup), (901L, doc(901))).toDF("doc_id", "text"), 8L)
    val expected = batches.flatten.toSet + 901L
    assert(ingest.admitted().get.select($"doc_id").as[Long].collect().toSet == expected)
    assert(leafCount(s"$work/band_index") == 2)
    assert(leafCount(s"$work/admitted") == 2)
    // replaying the boundary batch overwrites its own leaves — same result
    ingest.processBatch(Seq((900L, nearDup), (901L, doc(901))).toDF("doc_id", "text"), 8L)
    assert(ingest.admitted().get.select($"doc_id").as[Long].collect().toSet == expected)
    assert(leafCount(s"$work/band_index") == 2)
  }

  /** A streaming gate whose state lives in leaf stores folded every 4
    * batches (`compactEvery = 4`): `offer(items, b)` runs batch `b`, an
    * item `(id, of)` carrying item `of`'s content when `id == of` and a
    * near-dup of it otherwise; `stores` are its leaf-store dirs under
    * `work`. The crash-safety cases below run once per gate. */
  private case class LeafGate(name: String, work: String, stores: Seq[String],
                              offer: (Seq[(Long, Long)], Long) => Unit,
                              admitted: () => Set[Long], compact: Long => Unit)

  private def leafGates(): Seq[LeafGate] = {
    import graft.multimodal.ImagePhash
    def doc(k: Long) = s"doc $k unique token alpha$k beta$k gamma$k delta$k epsilon$k zeta$k eta$k"
    def vec(k: Long) = Array.tabulate(8)(j => math.sin(k * 12.9898 + j * 78.233).toFloat)
    val text = {
      val work = Files.createTempDirectory("graft_leaf_text").toString
      val g = new graft.streaming.StreamingDedupIngest(spark, work,
        simThreshold = 0.5, compactEvery = 4)
      LeafGate("text", work, Seq("band_index", "admitted"),
        (items, b) => g.processBatch(items.map { case (id, of) =>
          (id, if (id == of) doc(of) else doc(of).substring(doc(of).indexOf(' ') + 1))
        }.toDF("doc_id", "text"), b),
        () => g.admitted().get.select($"doc_id").as[Long].collect().toSet, g.compact)
    }
    val image = {
      val work = Files.createTempDirectory("graft_leaf_image").toString
      val g = new graft.streaming.StreamingImageIngest(spark, work, compactEvery = 4)
      // pattern of + 3: patterns 1 and 2 share an aHash; shifted, every
      // pattern used here is > 6 bits from every other. The near-dup is
      // the 2× resized twin.
      LeafGate("image", work, Seq("image_band_index", "image_ledger"),
        (items, b) => g.processBatch(items.map { case (id, of) =>
          (id, if (id == of) ImagePhash.patternBmp(of + 3, 64, 48)
               else ImagePhash.patternBmp(of + 3, 128, 96))
        }.toDF("media_id", "payload"), b),
        () => g.admitted().map(_.select("media_id").as[Long].collect().toSet)
          .getOrElse(Set.empty), g.compact)
    }
    val vector = {
      val work = Files.createTempDirectory("graft_leaf_vector").toString
      val cents = Seq((0L, Array.tabulate(8)(j => if (j == 0) 1f else 0f)),
        (1L, Array.tabulate(8)(j => if (j == 1) 1f else 0f))).toDF("id", "vec")
      val g = new graft.streaming.StreamingEmbedIngest(spark, work, cents,
        simThreshold = 0.999, nprobe = 2, compactEvery = 4)
      // the near-dup is the scaled vector: identical SQ8 codes
      LeafGate("vector", work, Seq("vector_index/codes"),
        (items, b) => g.processBatch(items.map { case (id, of) =>
          (id, if (id == of) vec(of) else vec(of).map(_ * 2f))
        }.toDF("id", "vec"), b),
        () => g.admitted().select($"id").as[Long].collect().toSet, g.store.compact)
    }
    Seq(text, image, vector)
  }

  private def batchLeaves(dir: String): List[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(java.nio.file.Paths.get(dir))
    try s.iterator().asScala.toList.filter(_.getFileName.toString.startsWith("batch_id="))
    finally s.close()
  }

  /** Where a store's fold writes before its atomic move. */
  private def foldTmp(work: String, store: String): java.nio.file.Path = {
    val p = java.nio.file.Paths.get(work, store)
    p.resolveSibling(s".compact_tmp_${p.getFileName}")
  }

  test("compaction crash superset (segment + leftover leaves) survives boundary-batch replay") {
    import java.nio.file.{Path, Paths, StandardCopyOption}
    def copyTree(from: Path, to: Path): Unit = {
      val s = Files.walk(from)
      try s.forEach { p =>
        val dest = to.resolve(from.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(dest)
        else Files.copy(p, dest, StandardCopyOption.REPLACE_EXISTING)
      } finally s.close()
    }
    val batches = (0 until 8).map(b => Seq(b * 10L + 1, b * 10L + 2))
    for (g <- leafGates()) {
      def admitted(): Set[Long] = g.admitted()
      batches.zipWithIndex.foreach { case (ids, bid) => g.offer(ids.map(i => (i, i)), bid.toLong) }
      // snapshot the pre-fold leaves (segment -4 + batches 4..7), then let
      // batch 8 fold them into segment -8
      val snap = Files.createTempDirectory("graft_leaf_snap")
      for (store <- g.stores) {
        Files.createDirectories(snap.resolve(store))
        batchLeaves(s"${g.work}/$store").foreach(p =>
          copyTree(p, snap.resolve(store).resolve(p.getFileName)))
      }
      g.offer(Seq((81L, 81L)), 8L)
      val expected = batches.flatten.toSet + 81L
      assert(admitted() == expected, g.name)
      // simulate a crash between the segment rename and leaf cleanup: the
      // fresh segment -8 AND the pre-fold leaves are all present
      for (store <- g.stores) {
        val s = Files.list(snap.resolve(store))
        try s.forEach(p => copyTree(p, Paths.get(s"${g.work}/$store").resolve(p.getFileName)))
        finally s.close()
        assert(batchLeaves(s"${g.work}/$store").size == 7, s"${g.name} $store") // -8, -4, 4..7, 8
      }
      // superset window: admitted ids still deduped, decisions unaffected
      assert(admitted() == expected, g.name)
      // replay the boundary batch — re-folds horizon 8, whose fold set
      // includes the path that IS the new target; pre-horizon items must
      // survive and stay deduplicated
      g.offer(Seq((81L, 81L)), 8L)
      assert(admitted() == expected, g.name)
      for (store <- g.stores)
        assert(batchLeaves(s"${g.work}/$store").size == 2, s"${g.name} $store")
      // near-dup of an item that lives only in the re-folded segment is still dropped
      g.offer(Seq((900L, 1L), (901L, 901L)), 9L)
      assert(admitted() == expected + 901L, g.name)
    }
  }

  test("compaction crash before the segment move (orphan tmp) loses nothing and is swept") {
    val batches = (0 until 8).map(b => Seq(b * 10L + 1, b * 10L + 2))
    for (g <- leafGates()) {
      def admitted(): Set[Long] = g.admitted()
      def leafCounts() = g.stores.map(store => batchLeaves(s"${g.work}/$store").size)
      batches.zipWithIndex.foreach { case (ids, bid) => g.offer(ids.map(i => (i, i)), bid.toLong) }
      // simulate a crash AFTER the fold was written to the temp dir but
      // BEFORE the atomic move: plant orphan .compact_tmp_* dirs; the
      // stores themselves are untouched, so nothing is lost
      for (store <- g.stores) {
        val orphan = foldTmp(g.work, store)
        Files.createDirectories(orphan)
        Files.writeString(orphan.resolve("junk.parquet"), "not parquet")
      }
      assert(admitted() == batches.flatten.toSet, g.name)
      // the replayed boundary batch sweeps the orphans and folds normally
      g.offer(Seq((81L, 81L)), 8L)
      val expected = batches.flatten.toSet + 81L
      assert(admitted() == expected, g.name)
      for (store <- g.stores) assert(!Files.exists(foldTmp(g.work, store)), s"${g.name} $store")
      assert(leafCounts().forall(_ == 2), s"${g.name} ${leafCounts()}") // fresh segment + batch 8
      // replaying the boundary batch is still idempotent after the sweep:
      // same admitted set, no extra fold segment, no fresh tmp dirs
      g.offer(Seq((81L, 81L)), 8L)
      assert(admitted() == expected, g.name)
      for (store <- g.stores) assert(!Files.exists(foldTmp(g.work, store)), s"${g.name} $store")
      assert(leafCounts().forall(_ == 2), s"${g.name} ${leafCounts()}")
      // a non-positive horizon is a guarded no-op (negative fold-segment
      // ids must never collide with real batch leaves)
      g.compact(0L)
      g.compact(-3L)
      assert(leafCounts().forall(_ == 2), s"${g.name} ${leafCounts()}")
      assert(admitted() == expected, g.name)
    }
  }

  test("streaming ingest with a quality gate drops low-quality docs before dedup") {
    val work = java.nio.file.Files.createTempDirectory("graft_sqi").toString
    // gate: >= 8 tokens with at least one stopword
    val cfg = graft.curation.Curation.Config(minTokens = 8, minStopwords = 1,
      minMeanLen = 0.0, maxMeanLen = 1000.0)
    val ingest = new graft.streaming.StreamingDedupIngest(spark, work,
      simThreshold = 0.5, quality = Some(cfg))
    ingest.processBatch(Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"), // passes
      (2L, "too short"),                                         // gated: tokens
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota") // gated: stopwords
    ).toDF("doc_id", "text"), 0L)
    assert(ingest.admitted().get.select($"doc_id").as[Long].collect().toSet == Set(1L))
    // an all-gated batch admits nothing and leaves no partial state
    ingest.processBatch(Seq((4L, "junk")).toDF("doc_id", "text"), 1L)
    assert(ingest.admitted().get.select($"doc_id").as[Long].collect().toSet == Set(1L))
  }

  test("streaming novelty gate drops span-stitched docs LSH dedup cannot see") {
    val work = java.nio.file.Files.createTempDirectory("graft_snv").toString
    val ingest = new graft.streaming.StreamingDedupIngest(spark, work,
      simThreshold = 0.9, noveltyGate = Some(50))
    val dA = "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11 a12"
    val dB = "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11 b12"
    ingest.processBatch(Seq((1L, dA), (2L, dB)).toDF("doc_id", "text"), 0L)
    assert(ingest.admitted().get.select($"doc_id").as[Long].collect().toSet == Set(1L, 2L))
    // C = A ⧺ B: 10 of 17 8-grams (58.8%) already admitted, yet its
    // Jaccard to either single doc is ~0.45 — invisible to LSH dedup
    // at 0.9. D is novel; the 2-token doc is too short to gram → passes
    val dC = s"$dA $dB"
    val dD = "d1 d2 d3 d4 d5 d6 d7 d8 d9 d10 d11 d12"
    ingest.processBatch(Seq(
      (10L, dC), (11L, dD), (12L, "tiny doc")).toDF("doc_id", "text"), 1L)
    assert(ingest.admitted().get.select($"doc_id").as[Long].collect().toSet ==
      Set(1L, 2L, 11L, 12L))
    // the gram index grew with batch 1's admissions: a stitch of D+A
    // spans is now 58.8% seen too — dropped
    ingest.processBatch(Seq((20L, s"$dD $dA")).toDF("doc_id", "text"), 2L)
    assert(ingest.admitted().get.select($"doc_id").as[Long].collect().toSet ==
      Set(1L, 2L, 11L, 12L))
  }

  test("novelty gate first-enable backfills the gram index over the prior corpus") {
    val work = java.nio.file.Files.createTempDirectory("graft_snb").toString
    val dA = "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11 a12"
    val dB = "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11 b12"
    // phase 1: gate OFF — corpus ingested with no gram index at all
    val pre = new graft.streaming.StreamingDedupIngest(spark, work,
      simThreshold = 0.9)
    pre.processBatch(Seq((1L, dA), (2L, dB)).toDF("doc_id", "text"), 0L)
    assert(!java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(s"$work/gram_index")))
    // phase 2: gate ON over the same store — construction backfills,
    // so a stitch of the PRE-GATE corpus is caught immediately (before
    // the fix its grams were absent and the stitch passed)
    val post = new graft.streaming.StreamingDedupIngest(spark, work,
      simThreshold = 0.9, noveltyGate = Some(50))
    post.processBatch(Seq((10L, s"$dA $dB"), (11L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"))
      .toDF("doc_id", "text"), 1L)
    assert(post.admitted().get.select($"doc_id").as[Long].collect().toSet ==
      Set(1L, 2L, 11L))
    // compaction folds the backfill segment together with batch leaves
    // even when a later instance runs with the gate off again
    val off = new graft.streaming.StreamingDedupIngest(spark, work,
      simThreshold = 0.9)
    off.compact(2L)
    val gramLeaves = java.nio.file.Files.list(
        java.nio.file.Paths.get(s"$work/gram_index"))
    val names = try {
      import scala.jdk.CollectionConverters._
      gramLeaves.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("batch_id=")).toSet // the coverage marker rides along
    } finally gramLeaves.close()
    assert(names == Set("batch_id=-2"),
      s"gate-off compaction must fold the gram store (got $names)")
  }

  test("novelty gate on->off->on: off-period admissions stay indexed, gap leaves are re-indexed") {
    val work = java.nio.file.Files.createTempDirectory("graft_sng").toString
    val dA = "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11 a12"
    val dB = "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11 b12"
    // gate ON: corpus + gram index built
    val on1 = new graft.streaming.StreamingDedupIngest(spark, work,
      simThreshold = 0.9, noveltyGate = Some(50))
    on1.processBatch(Seq((1L, dA)).toDF("doc_id", "text"), 0L)
    // gate OFF: the store exists, so the admitted batch's grams are
    // STILL written (the pre-fix writer skipped them, leaving a
    // permanent blind spot)
    val off = new graft.streaming.StreamingDedupIngest(spark, work,
      simThreshold = 0.9)
    off.processBatch(Seq((2L, dB)).toDF("doc_id", "text"), 1L)
    // gate ON again: a stitch built ONLY from off-period spans must be
    // caught (its grams are 100% seen); a novel doc passes
    val on2 = new graft.streaming.StreamingDedupIngest(spark, work,
      simThreshold = 0.9, noveltyGate = Some(50))
    on2.processBatch(Seq((10L, dB), (11L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11"))
      .toDF("doc_id", "text"), 2L)
    assert(on2.admitted().get.select($"doc_id").as[Long].collect().toSet ==
      Set(1L, 2L, 11L))
    // legacy-gap repair: simulate a pre-fix store by deleting one gram
    // leaf and the coverage marker (a pre-r16 store has none) —
    // re-construction with the gate on rebuilds the whole index
    val leaf = java.nio.file.Paths.get(s"$work/gram_index/batch_id=1")
    assert(java.nio.file.Files.isDirectory(leaf), "off-period batch wrote no gram leaf")
    graft.util.Fs.deleteRecursively(leaf)
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$work/gram_index/_coverage_v1"))
    val on3 = new graft.streaming.StreamingDedupIngest(spark, work,
      simThreshold = 0.9, noveltyGate = Some(50))
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(s"$work/gram_index/batch_id=-1")),
      "gap was not rebuilt into batch_id=-1")
    on3.processBatch(Seq((20L, dB)).toDF("doc_id", "text"), 3L)
    assert(!on3.admitted().get.select($"doc_id").as[Long].collect().contains(20L))
  }

  test("legacy store with an already-FOLDED gram gap (no coverage marker) is fully rebuilt") {
    val work = java.nio.file.Files.createTempDirectory("graft_sngf").toString
    def P(x: String) = java.nio.file.Paths.get(x)
    val dA = "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11 a12"
    val dB = "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11 b12"
    val on1 = new graft.streaming.StreamingDedupIngest(spark, work,
      simThreshold = 0.9, noveltyGate = Some(50), compactEvery = 0)
    on1.processBatch(Seq((1L, dA)).toDF("doc_id", "text"), 0L)
    on1.processBatch(Seq((2L, dB)).toDF("doc_id", "text"), 1L)
    // simulate the PRE-fix writer: batch 1's grams were never written
    graft.util.Fs.deleteRecursively(P(s"$work/gram_index/batch_id=1"))
    // ... and compaction has since folded the admitted leaves into a
    // negative consolidated segment — the gap is no longer a leaf
    on1.compact(2L)
    assert(!java.nio.file.Files.isDirectory(P(s"$work/admitted/batch_id=1")),
      "fold did not consume the admitted leaves")
    // a pre-marker store carries no coverage marker
    java.nio.file.Files.deleteIfExists(P(s"$work/gram_index/_coverage_v1"))
    // leaf-id compare sees nothing to repair; the marker rebuild must
    // recover doc 2's grams, so a stitch of dB is caught
    val on2 = new graft.streaming.StreamingDedupIngest(spark, work,
      simThreshold = 0.9, noveltyGate = Some(50), compactEvery = 0)
    assert(java.nio.file.Files.exists(P(s"$work/gram_index/_coverage_v1")),
      "rebuild did not record the coverage marker")
    on2.processBatch(Seq((20L, dB), (21L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11"))
      .toDF("doc_id", "text"), 2L)
    val admitted = on2.admitted().get.select($"doc_id").as[Long].collect().toSet
    assert(!admitted.contains(20L), "folded-away gap doc still passed the gate")
    assert(admitted.contains(21L), "novel doc was wrongly dropped")
    // a marked store is NOT rebuilt again: the leaf-delete repair path
    // (previous test) still owns the positive-leaf case
  }

  /** The two batches of one ingest run: batch 0 (possibly empty)
    * seeds the band index, batch 1 meets it. Texts come from a 40-word
    * vocabulary, so band buckets collide often; the documents are base
    * texts, exact repeats and 1-6-token edits of them (near-dups on
    * both sides of either threshold) and 0-2-token documents too short
    * to shingle, under distinct shuffled ids. */
  private val dropBatchesGen: org.scalacheck.Gen[Seq[Seq[(Long, String)]]] = {
    import org.scalacheck.Gen
    val word = Gen.choose(0, 39).map(i => s"tok$i")
    val text = Gen.choose(3, 24).flatMap(Gen.listOfN(_, word))
    def variant(base: List[String]): Gen[List[String]] = for {
      edits <- Gen.choose(0, 6)
      at <- Gen.listOfN(edits, Gen.choose(0, base.size - 1))
      ws <- Gen.listOfN(edits, word)
    } yield at.zip(ws).foldLeft(base) { case (b, (i, w)) => b.updated(i, w) }
    for {
      bases <- Gen.choose(1, 10).flatMap(Gen.listOfN(_, text))
      copies <- Gen.choose(0, 24).flatMap(Gen.listOfN(_, Gen.oneOf(bases).flatMap(variant)))
      short <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, Gen.choose(0, 2).flatMap(Gen.listOfN(_, word))))
      texts = (bases ++ copies ++ short).map(_.mkString(" "))
      ids <- Gen.pick(texts.size, 1L to 5000L)
      split <- Gen.choose(0, texts.size - 1)
    } yield {
      val rnd = new scala.util.Random(ids.sum)
      val docs = rnd.shuffle(rnd.shuffle(ids.toSeq).zip(texts))
      Seq(docs.take(split), docs.drop(split))
    }
  }

  private case class DropCase(threshold: Double, gate: Boolean, ledger: Boolean)

  /** The leaves one batch should write, by the pair-join formulation
    * the grouped pass replaced: `lshCandidatePairs` with the `est_sim`
    * filter within the batch, `bandMatches` against the index. Returns
    * (admitted (doc_id, text) rows, band rows, ledger (doc_id, stage)
    * rows). */
  private def referenceLeaves(batch: Seq[(Long, String)], c: DropCase,
                              index: Option[org.apache.spark.sql.DataFrame]) =
    graft.util.CacheScope.loan {
      import graft.dedup.Dedup
      val input = batch.toDF("doc_id", "text")
      val docs = if (!c.gate) input else graft.curation.Curation.qualityGate(input,
        graft.curation.Curation.Config(minTokens = 3, minStopwords = 0)).drop("n_tokens")
      val sig = Dedup.minhashSignatures(docs, "doc_id")
      val intra = Dedup.lshCandidatePairs(sig, "doc_id").filter($"est_sim" >= c.threshold)
        .select($"id_b".as("doc_id")).distinct()
      val vsIndex = index.map(Dedup.bandMatches(_, sig, "doc_id").select($"batch_id".as("doc_id")))
      val survived = docs.join(intra, Seq("doc_id"), "left_anti")
      val admitted = vsIndex.fold(survived)(survived.join(_, Seq("doc_id"), "left_anti"))
      val bands = Dedup.bandKeys(sig.join(admitted, Seq("doc_id"), "left_semi"), "doc_id")
      def ids(df: org.apache.spark.sql.DataFrame) = df.select($"doc_id").as[Long].collect().toSet
      val ledger = ids(input).diff(ids(docs)).map(_ -> "quality") ++
        ids(docs.join(intra, Seq("doc_id"), "left_semi")).map(_ -> "near_dup_intra") ++
        vsIndex.fold(Set.empty[Long])(v => ids(survived.join(v, Seq("doc_id"), "left_semi")))
          .map(_ -> "near_dup_index") ++
        ids(admitted).map(_ -> "admitted")
      (admitted.as[(Long, String)].collect().toSet,
        bands.as[(Long, Int, String)].collect().sorted.toSeq, ledger)
    }

  test("grouped near-dup pass == the pair-join formulation on random batches; an empty batch writes no leaf") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def leaf(work: String, store: String, b: Int) = java.nio.file.Paths.get(s"$work/$store/batch_id=$b")
    def read(work: String, store: String, b: Int) =
      if (Files.isDirectory(leaf(work, store, b))) Some(spark.read.parquet(leaf(work, store, b).toString))
      else None
    val tally = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    for (seed <- 1 to 8) {
      val c = DropCase(if (seed % 2 == 0) 0.5 else 0.9, gate = seed % 4 >= 2, ledger = seed % 3 != 0)
      val batches = dropBatchesGen.apply(Gen.Parameters.default, Seed(9100L + seed)).get
      val work = Files.createTempDirectory("graft_sdeq").toString
      val ingest = new graft.streaming.StreamingDedupIngest(spark, work, simThreshold = c.threshold,
        quality = if (c.gate) Some(graft.curation.Curation.Config(minTokens = 3, minStopwords = 0)) else None,
        ledger = c.ledger)
      batches.zipWithIndex.foreach { case (batch, b) =>
        val index = if (b == 0) None else read(work, "band_index", 0)
        val (admitted, bands, ledger) = referenceLeaves(batch, c, index)
        ledger.foreach { case (_, stage) => tally(stage) += 1 }
        ingest.processBatch(batch.toDF("doc_id", "text"), b.toLong)
        val ctx = s"seed $seed batch $b $c"
        assert(read(work, "admitted", b).fold(Set.empty[(Long, String)])(
          _.select($"doc_id", $"text").as[(Long, String)].collect().toSet) == admitted, ctx)
        assert(read(work, "band_index", b).fold(Seq.empty[(Long, Int, String)])(
          _.as[(Long, Int, String)].collect().sorted.toSeq) == bands, ctx)
        val gotLedger = read(work, "ledger", b).map(
          _.select($"doc_id", $"stage").as[(Long, String)].collect().toSet)
        if (batch.isEmpty || !c.ledger) assert(gotLedger.isEmpty, ctx)
        else assert(gotLedger.contains(ledger), ctx)
      }
    }
    info(s"dispositions over the samples: ${tally.toSeq.sorted.mkString(", ")}")
    assert(Seq("quality", "near_dup_intra", "near_dup_index", "admitted").forall(tally(_) > 0))
    // an empty batch writes no leaf at all, ledger included
    val work = Files.createTempDirectory("graft_sdeq_empty").toString
    new graft.streaming.StreamingDedupIngest(spark, work, ledger = true,
      quality = Some(graft.curation.Curation.Config(minTokens = 3, minStopwords = 0)))
      .processBatch(Seq.empty[(Long, String)].toDF("doc_id", "text"), 0L)
    assert(Seq("band_index", "admitted", "ledger").forall(s => !Files.exists(leaf(work, s, 0))))
  }

  test("ledger: one disposition row per input doc, stages attributed, empty-result batch still audited") {
    val work = java.nio.file.Files.createTempDirectory("graft_sled").toString
    val cfg = graft.curation.Curation.Config(minTokens = 3, minStopwords = 0)
    val ingest = new graft.streaming.StreamingDedupIngest(spark, work,
      simThreshold = 0.9, quality = Some(cfg), ledger = true)
    val dA = "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11 a12"
    // batch 0: one admit, one quality drop (2 tokens < 3), one
    // intra-batch near-dup of dA
    ingest.processBatch(Seq(
      (1L, dA), (2L, "too short"), (3L, dA)).toDF("doc_id", "text"), 0L)
    // batch 1: a replay of dA (vs-index drop) → zero admissions, yet
    // the ledger row must exist
    ingest.processBatch(Seq((10L, dA)).toDF("doc_id", "text"), 1L)
    // batch 2: a non-empty batch the quality gate empties — nothing
    // reaches dedup, yet its ledger leaf is written
    ingest.processBatch(Seq((20L, "two tokens")).toDF("doc_id", "text"), 2L)
    assert(Files.isDirectory(java.nio.file.Paths.get(s"$work/ledger/batch_id=2")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$work/admitted/batch_id=2")))
    val led = ingest.ledgerFrame().get
      .select($"batch_id", $"doc_id", $"stage", $"admitted")
      .as[(Long, Long, String, Boolean)].collect().toSet
    assert(led == Set(
      (0L, 1L, "admitted", true),
      (0L, 2L, "quality", false),
      (0L, 3L, "near_dup_intra", false),
      (1L, 10L, "near_dup_index", false),
      (2L, 20L, "quality", false)))
    // per-batch conservation: ledger rows == input docs == admitted + dropped
    val byBatch = led.groupBy(_._1).view.mapValues(_.size).toMap
    assert(byBatch == Map(0L -> 3, 1L -> 1, 2L -> 1))
    // the admitted store agrees with the ledger's admitted rows
    assert(ingest.admitted().get.select($"doc_id").as[Long].collect().toSet ==
      led.filter(_._4).map(_._2))

    // catalog rollup: the funnel lands in the run catalog as one run
    // whose steps are the stages in pipeline order, rows_affected =
    // docs disposed at that stage — the same contract batch runs use
    val catalog = new graft.catalog.RunCatalog(spark, s"$work/catalog")
    val runId = ingest.recordToCatalog(catalog).get
    val steps = catalog.steps(runId)
      .select($"step_number", $"step_name", $"status", $"rows_affected")
      .as[(Int, String, String, Long)].collect().sortBy(_._1)
    assert(steps.map(_._2).toSeq ==
      graft.streaming.StreamingDedupIngest.FunnelStages)
    assert(steps.forall(_._3 == "Success"))
    val counts = steps.map(s => s._2 -> s._4).toMap
    assert(counts == Map("quality" -> 2L, "classifier" -> 0L,
      "decontamination" -> 0L, "novelty" -> 0L, "near_dup_intra" -> 1L,
      "near_dup_index" -> 1L, "admitted" -> 1L), counts.toString)
    // an unledgered ingest has nothing to roll up
    val bare = new graft.streaming.StreamingDedupIngest(spark,
      java.nio.file.Files.createTempDirectory("graft_sled2").toString)
    assert(bare.recordToCatalog(catalog).isEmpty)
  }

  test("stream-stream attribution join matches within the window, expires outside") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long, String)]
    val buys = MemoryStream[(Timestamp, Long, Double)]
    val joined = Streams.attributionJoin(
      clicks.toDF().toDF("ts", "user_id", "page"),
      buys.toDF().toDF("ts", "user_id", "amount"))
    val q = joined.select($"l.user_id", $"page", $"amount")
      .writeStream.format("memory").queryName("attrib").outputMode("append").start()
    clicks.addData((ts(0), 1L, "home"), (ts(0), 2L, "search"))
    buys.addData((ts(30), 1L, 9.99))   // within 1h of user 1's click
    buys.addData((ts(300), 2L, 5.0))   // 5h later — outside the window
    q.processAllAvailable()
    val rows = spark.table("attrib").as[(Long, String, Double)].collect().toSet
    assert(rows == Set((1L, "home", 9.99)))
    q.stop()
  }

  test("stateful sessionization closes sessions on 30-min gaps across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.Event]
    val q = Streams.sessionize(mem.toDS())
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    mem.addData(Streams.Event(1L, ts(0), "a"), Streams.Event(1L, ts(5), "b"))
    q.processAllAvailable()
    assert(spark.table("sessions").count() == 0) // session still open
    mem.addData(Streams.Event(1L, ts(60), "c"))  // 55-min gap closes session 1
    q.processAllAvailable()
    val rows = spark.table("sessions").as[Streams.SessionOut].collect()
    assert(rows.length == 1)
    assert(rows(0) == Streams.SessionOut(1L, 1L, 2L))
    q.stop()
  }

  test("streaming image gate: resized twin drops intra-batch and vs-index; replay idempotent; ledger attributes") {
    import graft.multimodal.ImagePhash
    val work = Files.createTempDirectory("graft_img_stream").toString
    val gate = new graft.streaming.StreamingImageIngest(spark, work,
      maxHamming = 3, bands = 4, compactEvery = 4)
    def admittedIds(): Set[Long] = gate.admitted()
      .map(_.select("media_id").as[Long].collect().toSet).getOrElse(Set.empty)
    def stages(batch: Long): Map[Long, String] = gate.ledgerFrame().get
      .filter($"ledger_batch_id" === batch)
      .select($"media_id", $"stage").as[(Long, String)].collect().toMap
    // batch 0: 10 = pattern A at 64×48; 11 = the 2× RESIZED twin of A
    // (the deterministic-BMP fixture's hash is size-invariant by
    // construction — the resized-twin plant); 12 = distinct pattern;
    // 13 = bytes the JDK cannot decode
    gate.processBatch(Seq(
      (10L, ImagePhash.patternBmp(1, 64, 48)),
      (11L, ImagePhash.patternBmp(1, 128, 96)),
      (12L, ImagePhash.patternBmp(4, 64, 48)),
      (13L, Array[Byte](1, 2, 3))).toDF("media_id", "payload"), 0L)
    assert(admittedIds() == Set(10L, 12L))
    assert(stages(0L) == Map(10L -> "admitted", 12L -> "admitted",
      11L -> "near_dup_intra", 13L -> "undecodable"))
    // batch 1: 20 = another resize of A (drops VS-INDEX); 21 = lightly
    // EDITED twin of 12 (two cells swapped — Hamming ≤ 2, vs-index);
    // 22 = novel; a RE-SENT id 10 must drop against its own admitted
    // twin (no self-exclusion), not overwrite
    val batch1 = Seq(
      (20L, ImagePhash.patternBmp(1, 128, 96)),
      (21L, ImagePhash.patternBmp(4, 64, 48, swapCells = Some((0, 9)))),
      (22L, ImagePhash.patternBmp(5, 64, 48)),
      (10L, ImagePhash.patternBmp(1, 64, 48))).toDF("media_id", "payload")
    gate.processBatch(batch1, 1L)
    assert(admittedIds() == Set(10L, 12L, 22L))
    // 20 pairs with the RE-SENT 10 inside the batch first (min-id
    // wins at the intra stage), then 10 itself drops vs the index
    assert(stages(1L) == Map(20L -> "near_dup_intra", 21L -> "near_dup_index",
      10L -> "near_dup_index", 22L -> "admitted"))
    // replaying batch 1 changes nothing: leaf overwrite, same drops —
    // including the LEDGER: the probe excludes the batch's own prior
    // leaf, so the admitted 22 must NOT re-record as near_dup_index
    // against its own index row (the replay-idempotent ledger contract)
    gate.processBatch(batch1, 1L)
    assert(admittedIds() == Set(10L, 12L, 22L))
    assert(stages(1L) == Map(20L -> "near_dup_intra", 21L -> "near_dup_index",
      10L -> "near_dup_index", 22L -> "admitted"),
      "replay rewrote the ledger with self-leaf collisions")
    // batch 4 triggers compaction of committed leaves; decisions and
    // admitted state survive the fold — a resize of 22's pattern still
    // drops vs the FOLDED index
    gate.processBatch(Seq(
      (40L, ImagePhash.patternBmp(5, 128, 96)),
      (41L, ImagePhash.patternBmp(6, 64, 48))).toDF("media_id", "payload"), 4L)
    assert(admittedIds() == Set(10L, 12L, 22L, 41L))
    assert(stages(4L) == Map(40L -> "near_dup_index", 41L -> "admitted"))
    assert(gate.leafCount() <= 2, s"compaction did not bound leaves: ${gate.leafCount()}")
  }

  test("streaming audio gate: volume twin drops intra-batch and vs-index; replay idempotent; ledger attributes") {
    import graft.multimodal.AudioPhash
    val work = Files.createTempDirectory("graft_aud_stream").toString
    val gate = new graft.streaming.StreamingAudioIngest(spark, work,
      maxHamming = 3, bands = 4, compactEvery = 4)
    def admittedIds(): Set[Long] = gate.admitted()
      .map(_.select("media_id").as[Long].collect().toSet).getOrElse(Set.empty)
    def stages(batch: Long): Map[Long, String] = gate.ledgerFrame().get
      .filter($"ledger_batch_id" === batch)
      .select($"media_id", $"stage").as[(Long, String)].collect().toMap
    // batch 0: 10 = pattern 1; 11 = its 2×-VOLUME twin (identical hash
    // by the energy hash's scale invariance — the audio analog of the
    // image gate's resize plant); 12 = distinct pattern; 13 = bytes the
    // JDK sound stack cannot open
    gate.processBatch(Seq(
      (10L, AudioPhash.patternWav(1)),
      (11L, AudioPhash.patternWav(1, volume = 2)),
      (12L, AudioPhash.patternWav(4)),
      (13L, Array[Byte](1, 2, 3))).toDF("media_id", "payload"), 0L)
    assert(admittedIds() == Set(10L, 12L))
    assert(stages(0L) == Map(10L -> "admitted", 12L -> "admitted",
      11L -> "near_dup_intra", 13L -> "undecodable"))
    // batch 1: 20 = a re-mastered (3×) twin of pattern 1; 21 = EDITED
    // twin of 12 (end segments swapped — Hamming ≤ 2, vs-index); 22 =
    // novel; re-sent id 10 drops against its own admitted twin
    val batch1 = Seq(
      (20L, AudioPhash.patternWav(1, volume = 3)),
      (21L, AudioPhash.patternWav(4, swapSegs = Some((0, 47)))),
      (22L, AudioPhash.patternWav(5)),
      (10L, AudioPhash.patternWav(1))).toDF("media_id", "payload")
    gate.processBatch(batch1, 1L)
    assert(admittedIds() == Set(10L, 12L, 22L))
    // 20 pairs with the re-sent 10 inside the batch (min-id wins at the
    // intra stage), then 10 itself drops vs the index
    assert(stages(1L) == Map(20L -> "near_dup_intra", 21L -> "near_dup_index",
      10L -> "near_dup_index", 22L -> "admitted"))
    // replaying batch 1 changes nothing — decisions AND ledger (the
    // self-leaf exclusion contract, same as the image gate)
    gate.processBatch(batch1, 1L)
    assert(admittedIds() == Set(10L, 12L, 22L))
    assert(stages(1L) == Map(20L -> "near_dup_intra", 21L -> "near_dup_index",
      10L -> "near_dup_index", 22L -> "admitted"))
    // batch 4 compacts committed leaves; a louder re-issue of 22's
    // pattern still drops vs the FOLDED index
    gate.processBatch(Seq(
      (40L, AudioPhash.patternWav(5, volume = 2)),
      (41L, AudioPhash.patternWav(6))).toDF("media_id", "payload"), 4L)
    assert(admittedIds() == Set(10L, 12L, 22L, 41L))
    assert(stages(4L) == Map(40L -> "near_dup_index", 41L -> "admitted"))
    assert(gate.leafCount() <= 2, s"compaction did not bound leaves: ${gate.leafCount()}")
    // the ledger rolls into the run catalog as one funnel run — the
    // media-gate twin of the text gate's recordToCatalog contract
    val catalog = new graft.catalog.RunCatalog(spark, s"$work/catalog")
    val runId = gate.recordToCatalog(catalog, "audio-ingest").get
    val steps = catalog.steps(runId)
      .select($"step_number", $"step_name", $"rows_affected")
      .as[(Int, String, Long)].collect().sortBy(_._1)
    assert(steps.map(_._2).toSeq ==
      graft.streaming.StreamingBandGate.FunnelStages)
    val counts = steps.map(s => s._2 -> s._3).toMap
    // batches 0,1,4: undecodable {13}; intra {11, 20}; index {21, 10,
    // 40}; admitted {10, 12, 22, 41}
    assert(counts == Map("undecodable" -> 1L, "near_dup_intra" -> 2L,
      "near_dup_index" -> 3L, "admitted" -> 4L), counts.toString)
    // a gate with no ledger yet has nothing to roll up
    val bare = new graft.streaming.StreamingAudioIngest(spark,
      Files.createTempDirectory("graft_aud_bare").toString)
    assert(bare.recordToCatalog(catalog, "audio-ingest").isEmpty)
  }

  test("streaming image gate watches a directory of image files (binaryFile source)") {
    import graft.multimodal.ImagePhash
    val work = Files.createTempDirectory("graft_img_watch").toString
    val watch = Files.createTempDirectory("graft_img_land").toString
    def land(name: String, bytes: Array[Byte]): Unit =
      Files.write(java.nio.file.Paths.get(watch, name), bytes): Unit
    // media ids parse from the file names; 101 and 102 are the same
    // pattern at two sizes — the resized twin must drop in-stream
    land("101.bmp", ImagePhash.patternBmp(1, 64, 48))
    land("102.bmp", ImagePhash.patternBmp(1, 128, 96))
    land("103.bmp", ImagePhash.patternBmp(4, 64, 48))
    val gate = new graft.streaming.StreamingImageIngest(spark, work)
    val q = gate.start(watch, availableNow = true)
    q.awaitTermination(120000)
    val admitted = gate.admitted().get.select("media_id").as[Long].collect().toSet
    assert(admitted == Set(101L, 103L), admitted.toString)
    // a later delivery gates against the persisted index: another
    // resize of pattern 1 drops, a novel pattern admits
    land("201.bmp", ImagePhash.patternBmp(1, 128, 96))
    land("202.bmp", ImagePhash.patternBmp(5, 64, 48))
    val q2 = gate.start(watch, availableNow = true)
    q2.awaitTermination(120000)
    val admitted2 = gate.admitted().get.select("media_id").as[Long].collect().toSet
    assert(admitted2 == Set(101L, 103L, 202L), admitted2.toString)
  }
}
