package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame

/** Blob landing sink (SURVEY.md §2.1 K5 — reference
  * `python_code/projectplan.md:133-137` plans scraper/source output
  * landed to blob storage as JSON/CSV, from which the pipeline
  * ingests): write a frame into the landing directory as a single
  * CSV or JSONL file, published atomically.
  *
  * Atomic publish matters because the landing dir is watched — by the
  * file-trigger REST flow and by the streaming twin (C7): the file is
  * fully written under a dot-prefixed temp name (hidden from Spark
  * readers and the file stream), then renamed into place, so a watcher
  * never ingests a half-written file.
  *
  * Single-file by design: landing files are upload-sized units (the
  * reference's blob objects), not distributed datasets — the pipeline
  * reading them back out of landing is where Spark's parallelism
  * starts. `land` coalesces to one part; callers with genuinely large
  * frames should write parquet through the table path instead.
  */
object BlobLanding {

  /** Land `df` as `<landingDir>/<name>.<format>`; returns the final
    * path. `format`: "csv" (with header) or "json" (JSON Lines).
    * Fails if the target name already exists (landing files are
    * immutable-once-published, like blob objects).
    *
    * `staleClaimMs`: a claim file WITHOUT a published target that is at
    * least this old is crash debris (a JVM died between claiming and
    * publishing — the in-JVM failure path releases its claim, a killed
    * process cannot) and is taken over; younger ones are treated as an
    * in-flight lander. Size it well above the slowest plausible write.
    */
  def land(df: DataFrame, landingDir: String, name: String,
           format: String = "csv", staleClaimMs: Long = 3600000L): String = {
    require(format == "csv" || format == "json", s"unsupported landing format: $format")
    require(name.matches("[A-Za-z0-9._-]+"), s"unsafe landing name: $name")
    val dir = Paths.get(landingDir)
    Files.createDirectories(dir)
    val target = dir.resolve(s"$name.$format")
    if (Files.exists(target))
      throw new java.nio.file.FileAlreadyExistsException(target.toString)
    // Claim the name atomically (O_CREAT|O_EXCL) BEFORE writing: a bare
    // exists-check races — POSIX rename replaces the target, so two
    // concurrent land() calls with the same name would both pass the
    // check and the second would silently overwrite the published file.
    // The claim is a hidden dot-file (invisible to Spark readers and the
    // file stream watching this dir, like the staging name below) and is
    // KEPT after publish, permanently burning the name: releasing it
    // would reopen the same check-then-publish window. It is released
    // only when this call fails before publishing, so retries work.
    val claim = dir.resolve(s".$name.$format.claim")
    try Files.createFile(claim)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        // claim present, nothing published, old enough → crash debris.
        // Takeover is the atomic rename of the stale claim to a unique
        // name: of N concurrent contenders exactly one rename succeeds,
        // and that winner re-claims; the rest fail to FileAlreadyExists
        // (either on the rename or on the winner's fresh claim).
        val stale = !Files.exists(target) && Files.exists(claim) &&
          (try System.currentTimeMillis() -
            Files.getLastModifiedTime(claim).toMillis >= staleClaimMs
          catch { case _: java.io.IOException => false })
        if (!stale) throw new java.nio.file.FileAlreadyExistsException(target.toString)
        val swept = dir.resolve(s".$name.$format.claim.swept-${java.util.UUID.randomUUID().toString.take(8)}")
        try {
          Files.move(claim, swept, StandardCopyOption.ATOMIC_MOVE)
          // the staleness check above raced: between it and our rename,
          // another contender may have completed ITS takeover and
          // re-claimed — then the file we just swept is that winner's
          // FRESH claim, and proceeding would let two landers publish
          // over each other. Verify the swept file itself is stale;
          // if not, hand it back (best effort) and lose.
          val sweptStale = System.currentTimeMillis() -
            Files.getLastModifiedTime(swept).toMillis >= staleClaimMs
          if (!sweptStale) {
            try Files.move(swept, claim, StandardCopyOption.ATOMIC_MOVE)
            catch { case _: Exception => Files.deleteIfExists(swept): Unit }
            throw new java.nio.file.FileAlreadyExistsException(target.toString)
          }
          Files.deleteIfExists(swept)
          Files.createFile(claim)
        } catch {
          case e: java.nio.file.FileAlreadyExistsException if e.getMessage == target.toString =>
            throw e
          case _: Exception =>
            throw new java.nio.file.FileAlreadyExistsException(target.toString)
        }
    }
    try landClaimed(df, dir, target, name, format)
    catch { case e: Throwable => Files.deleteIfExists(claim); throw e }
  }

  private def landClaimed(df: DataFrame, dir: java.nio.file.Path,
                          target: java.nio.file.Path, name: String, format: String): String = {
    // Spark writes a directory; stage it outside the watched dir, then
    // move the single part file into place under a hidden name first
    // (same-filesystem rename twice keeps both steps atomic)
    val stage = Files.createTempDirectory("graft_land")
    val out = stage.resolve("out")
    val w = df.coalesce(1).write
    (format match {
      case "csv"  => w.option("header", "true").csv(out.toString)
      case "json" => w.json(out.toString)
    }): Unit
    val listing = Files.list(out)
    val part =
      try listing.filter(p => p.getFileName.toString.startsWith("part-")).findFirst()
        .orElseThrow(() => new IllegalStateException(s"no part file under $out"))
      finally listing.close()
    val hidden = dir.resolve(s".${name}.$format.landing")
    Files.move(part, hidden, StandardCopyOption.REPLACE_EXISTING)
    Files.move(hidden, target, StandardCopyOption.ATOMIC_MOVE)
    // best-effort stage cleanup (crash here leaves only tmp garbage)
    try graft.util.Fs.deleteRecursively(stage) catch { case _: Exception => () }
    target.toString
  }
}
