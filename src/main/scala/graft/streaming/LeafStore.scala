package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.util.{Fs, NioLocalFileSystem}

/** The on-disk contract every persistent streaming state store shares
  * ([[StreamingDedupIngest]]'s band, admitted, gram and ledger stores,
  * [[StreamingBandGate]]'s band index and ledger,
  * [[graft.sim.VectorIndexStore]]'s codes and tombstones), written once:
  *
  *   - one parquet leaf per micro-batch, `dir/batch_id=<n>` (n ≥ 0), so
  *     a replayed batch overwrites only its own leaf — idempotent under
  *     restart;
  *   - consolidated segments carry negative ids;
  *   - [[read]] can skip the replaying batch's own leaf;
  *   - [[fold]] consolidates leaves crash-atomically.
  *
  * `schema` is the leaves' declared parquet schema (DDL, the
  * `batch_id` partition column excluded); with it [[read]] and [[fold]]
  * start no schema-inference job, without it the first leaf's footer
  * decides. `tmp` is the fold's scratch dir, outside the store so
  * readers never see it (default `<parent>/.compact_tmp_<store name>`).
  */
final class LeafStore(spark: SparkSession, val dir: String, schema: Option[String] = None,
                      tmp: Option[Path] = None) {

  private val scratch = tmp.getOrElse {
    val p = Paths.get(dir)
    p.resolveSibling(s".compact_tmp_${p.getFileName}")
  }

  // basePath: a leaf root is itself a partition dir (batch_id=N), and
  // may hold partition children of its own (cell=C)
  private def readLeaves(ls: List[(Long, Path)]): DataFrame =
    schema.fold(spark.read)(spark.read.schema(_)).option("basePath", dir)
      .parquet(ls.map(_._2.toString): _*)

  def exists: Boolean = Files.isDirectory(Paths.get(dir))

  /** The path of leaf `id` (a writer's target). */
  def leaf(id: Long): String = s"$dir/batch_id=$id"

  /** The leaves on disk: add batches ≥ 0, consolidated segments < 0. */
  def leaves(): List[(Long, Path)] =
    if (!exists) Nil
    else {
      val s = Files.list(Paths.get(dir))
      try s.iterator().asScala.toList.flatMap { p =>
        val name = p.getFileName.toString
        if (name.startsWith("batch_id="))
          scala.util.Try(name.stripPrefix("batch_id=").toLong).toOption.map(_ -> p)
        else None
      } finally s.close()
    }

  def ids(): List[Long] = leaves().map(_._1)

  /** Every leaf but `exclude` as one frame (the `batch_id` partition
    * column included); None when no such leaf exists.
    *
    * A streaming gate passes its own foreachBatch id as `exclude`, so a
    * REPLAY of an already-committed batch (sink committed, checkpoint
    * not) never probes its own earlier leaf. With the self-leaf
    * visible, every previously admitted row would match its own entry
    * (LSH bands at sim 1.0, Hamming 0, cosine 1.0, novelty grams all
    * "seen"): the rewritten ledger would record it as a near-dup while
    * it sits admitted, and a TORN first write would make the replay
    * overwrite the leaf with only the not-yet-written rows — silent
    * loss. Excluding it makes the replay's decisions, ledger and leaf
    * overwrites identical to the original run. A to-be-replayed leaf is
    * never inside a consolidated segment: the in-stream fold takes only
    * ids below the CURRENT batch, and a later batch existing implies
    * this batch's checkpoint committed.
    */
  def read(exclude: Long = Long.MinValue): Option[DataFrame] = {
    val ls = leaves().filter(_._1 != exclude)
    if (ls.isEmpty) None else Some(readLeaves(ls))
  }

  /** Fold every leaf with id < `below` (batch leaves AND earlier
    * consolidated segments) into one fresh negative segment, when at
    * least `minSources` leaves qualify. `reduce` sees the sources with
    * their `batch_id` column; the column is dropped before the write of
    * `files` files (partitioned by `partitionBy`). The segment takes the
    * first free id at or below `segStart`, which must be below `below`
    * so that every id it could collide with is among the sources.
    *
    * Crash-atomic by construction: the fold is written to `tmp`, then
    * moved — one atomic rename — into a segment name that does not
    * exist yet (a replayed boundary batch re-folding the same horizon
    * takes the next free id). Only after the move are the sources
    * deleted, so EVERY crash point leaves the store holding a complete
    * superset: a crash before the move leaves the old layout plus an
    * orphan `tmp`, swept at the start of the next fold; a crash
    * mid-cleanup leaves the new segment plus stale leaves whose rows it
    * already holds. Readers dedup on their keys, and the next fold's
    * `reduce` removes the duplicates.
    */
  def fold(below: Long, segStart: Long, files: Int, minSources: Int = 2,
           partitionBy: Seq[String] = Nil)(reduce: DataFrame => DataFrame): Unit = {
    Fs.deleteRecursively(scratch) // sweep an orphan from any earlier crash, even if nothing folds
    val src = leaves().filter(_._1 < below)
    if (src.size < minSources) return
    reduce(readLeaves(src))
      .drop("batch_id")
      .coalesce(files)
      .write.options(NioLocalFileSystem.writeOptions)
      .partitionBy(partitionBy: _*).mode("overwrite").parquet(scratch.toString)
    val taken = src.map(_._1).toSet
    val segId = Iterator.iterate(segStart)(_ - 1L).dropWhile(taken.contains).next()
    Files.move(scratch, Paths.get(leaf(segId)), StandardCopyOption.ATOMIC_MOVE)
    src.foreach { case (_, p) => Fs.deleteRecursively(p) }
  }
}

object LeafStore {

  /** The in-stream fold cadence: a gate folds its committed leaves
    * (ids below `batchId`) before every `every`-th batch; 0 disables. */
  def due(batchId: Long, every: Int): Boolean =
    every > 0 && batchId > 0 && batchId % every == 0
}
