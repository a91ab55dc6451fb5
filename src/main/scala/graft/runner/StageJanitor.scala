package graft.runner

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import graft.catalog.RunCatalog
import graft.util.Fs

/** Stage retention: landing/staging/transformed/rejects accumulate one
  * physical `run_id=<id>` directory per run forever — at millions of
  * runs that is millions of directories per stage. The janitor deletes
  * the per-run slices of runs that are (a) not among the newest `keep`
  * and (b) not still Running. The merge target is untouched (it is the
  * durable output; stages are replayable intermediates).
  */
object StageJanitor {

  private val stageDirs = Seq(
    "landing_orders", "staging_orders", "staging_orders_transformed", "rejected_orders")

  /** Delete old runs' stage slices. Returns the run ids cleaned. */
  def cleanStages(workDir: String, catalog: RunCatalog, keep: Int = 100): Seq[String] = {
    // newest started_at first, nulls last
    val newestFirst = Ordering.Option(Ordering.fromLessThan[Timestamp](_ before _)).reverse
    val rows = catalog.runRows().sortBy(r => Option(r.started_at))(newestFirst)
    val keepIds: Set[String] =
      (rows.take(keep) ++ rows.filter(_.status == "Running")).map(_.run_id).toSet

    val cleaned = scala.collection.mutable.LinkedHashSet[String]()
    for (stage <- stageDirs) {
      val root = Paths.get(workDir, stage)
      if (Files.isDirectory(root)) {
        val listing = Files.list(root)
        try {
          val it = listing.iterator()
          while (it.hasNext) {
            val dir = it.next()
            val name = dir.getFileName.toString
            if (name.startsWith("run_id=")) {
              val runId = name.stripPrefix("run_id=")
              if (!keepIds.contains(runId)) {
                Fs.deleteRecursively(dir)
                cleaned += runId
              }
            }
          }
        } finally listing.close()
      }
    }
    cleaned.toSeq
  }
}
