package graft.scheduler

import java.nio.file.{Files, Paths}
import java.time.{LocalDateTime, ZoneOffset}
import java.util.UUID
import java.util.concurrent.{Executors, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.Using

/** Schedule store + due-scan loop (SURVEY.md §2.10 C6 — reference
  * `ScheduleRunner.java:26-58`: 60s poll for `Enabled AND NextRunAt <=
  * now`, fire, then recompute NextRunAt).
  *
  * The store is a driver-side properties-file-per-schedule directory:
  * schedules are a handful of rows owned by the driver, not a
  * distributed dataset (same reasoning as the run catalog's counter).
  * The clock and the firing action are injected so tests can tick
  * deterministically.
  */
class ScheduleRunner(dir: String,
                     fire: Schedule => Unit,
                     clock: () => LocalDateTime = () => LocalDateTime.now(ZoneOffset.UTC),
                     pollSeconds: Long = 60L) {

  Files.createDirectories(Paths.get(dir))

  private def file(id: String) = Paths.get(dir, s"$id.properties")

  // ---- CRUD (reference ScheduleRunner.java:113-191) -------------------

  def create(name: String, scheduleType: String, runAtTime: String,
             dayOfWeek: Int = 0, dayOfMonth: Int = 1,
             sourcePath: String, enabled: Boolean = true): Schedule = {
    val s = Schedule(UUID.randomUUID().toString, name, scheduleType, runAtTime,
      dayOfWeek, dayOfMonth, sourcePath, enabled,
      nextRunAt = Some(Schedules.computeNextRun(scheduleType, runAtTime, dayOfWeek, dayOfMonth, clock())),
      lastRunAt = None)
    save(s); s
  }

  def update(s: Schedule): Unit = save(
    s.copy(nextRunAt = Some(Schedules.computeNextRun(s.scheduleType, s.runAtTime, s.dayOfWeek, s.dayOfMonth, clock()))))

  def delete(id: String): Unit = Files.deleteIfExists(file(id))

  def setEnabled(id: String, enabled: Boolean): Unit =
    get(id).foreach(s => save(s.copy(enabled = enabled)))

  def get(id: String): Option[Schedule] =
    if (Files.exists(file(id))) Some(load(file(id).toString)) else None

  def list(): Seq[Schedule] =
    Using.resource(Files.list(Paths.get(dir)))(_.iterator().asScala
      .filter(_.toString.endsWith(".properties"))
      .map(p => load(p.toString)).toSeq.sortBy(_.name))

  // ---- due scan (C6) --------------------------------------------------

  /** One poll: fire every enabled schedule whose nextRunAt has passed,
    * then advance it. Returns the fired schedules.
    */
  def tick(): Seq[Schedule] = {
    val now = clock()
    list().filter(s => s.enabled && s.nextRunAt.exists(!_.isAfter(now))).map { s =>
      fire(s)
      val advanced = s.copy(
        lastRunAt = Some(now),
        nextRunAt = Some(Schedules.computeNextRun(s.scheduleType, s.runAtTime, s.dayOfWeek, s.dayOfMonth, now)))
      save(advanced)
      advanced
    }
  }

  private val executor = Executors.newSingleThreadScheduledExecutor(r => {
    val t = new Thread(r, "graft-schedule-runner"); t.setDaemon(true); t
  })

  /** Start the 60s poll loop (1s initial delay, like the reference). */
  def start(): ScheduleRunner = {
    executor.scheduleAtFixedRate(() =>
      try tick() catch { case e: Throwable => System.err.println(s"[scheduler] ${e.getMessage}") },
      1L, pollSeconds, TimeUnit.SECONDS)
    this
  }

  def stop(): Unit = executor.shutdownNow()

  // ---- tiny persistence ----------------------------------------------

  private def save(s: Schedule): Unit = {
    val p = new java.util.Properties()
    p.setProperty("schedule_id", s.scheduleId); p.setProperty("name", s.name)
    p.setProperty("schedule_type", s.scheduleType); p.setProperty("run_at_time", s.runAtTime)
    p.setProperty("day_of_week", s.dayOfWeek.toString); p.setProperty("day_of_month", s.dayOfMonth.toString)
    p.setProperty("source_path", s.sourcePath); p.setProperty("enabled", s.enabled.toString)
    s.lastRunAt.foreach(v => p.setProperty("last_run_at", v.toString))
    s.nextRunAt.foreach(v => p.setProperty("next_run_at", v.toString))
    val out = Files.newOutputStream(file(s.scheduleId))
    try p.store(out, null) finally out.close()
  }

  private def load(path: String): Schedule = {
    val p = new java.util.Properties()
    val in = Files.newInputStream(Paths.get(path))
    try p.load(in) finally in.close()
    Schedule(
      p.getProperty("schedule_id"), p.getProperty("name"),
      p.getProperty("schedule_type"), p.getProperty("run_at_time"),
      p.getProperty("day_of_week").toInt, p.getProperty("day_of_month").toInt,
      p.getProperty("source_path"), p.getProperty("enabled").toBoolean,
      Option(p.getProperty("last_run_at")).map(LocalDateTime.parse),
      Option(p.getProperty("next_run_at")).map(LocalDateTime.parse))
  }
}

case class Schedule(
    scheduleId: String,
    name: String,
    scheduleType: String,
    runAtTime: String,
    dayOfWeek: Int,
    dayOfMonth: Int,
    sourcePath: String,
    enabled: Boolean,
    lastRunAt: Option[LocalDateTime],
    nextRunAt: Option[LocalDateTime])
