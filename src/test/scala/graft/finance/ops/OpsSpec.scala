package graft.finance.ops

import graft.SparkSpec
import java.nio.file.Files
import java.time.Instant
import scala.collection.mutable

class OpsSpec extends SparkSpec {

  test("debouncer: burst of calls fires the action exactly once (trailing edge)") {
    // deterministic fake scheduler: records scheduled actions, fires on demand
    val pending = mutable.ArrayBuffer[(() => Unit, Array[Boolean])]()
    def fakeSchedule(delay: Long, action: () => Unit): () => Unit = {
      val cancelled = Array(false)
      pending += ((action, cancelled))
      () => cancelled(0) = true
    }
    val fired = mutable.ArrayBuffer[Int]()
    val d = new Debouncer(45000, fakeSchedule)
    d.call(() => fired += 1)
    d.call(() => fired += 2)
    d.call(() => fired += 3)
    assert(pending.size == 3 && d.hasPending)
    // the first two schedules were cancelled, only the last fires
    pending.foreach { case (action, cancelled) => if (!cancelled(0)) action() }
    assert(fired.toSeq == Seq(3))
    assert(!d.hasPending)
  }

  test("debouncer: a task firing concurrently with a newer call cannot clear or duplicate it") {
    val pending = mutable.ArrayBuffer[(() => Unit, Array[Boolean])]()
    def fakeSchedule(delay: Long, action: () => Unit): () => Unit = {
      val cancelled = Array(false)
      pending += ((action, cancelled))
      () => cancelled(0) = true
    }
    val fired = mutable.ArrayBuffer[String]()
    val d = new Debouncer(45000, fakeSchedule)
    d.call(() => fired += "A")
    d.call(() => fired += "B")
    // simulate the race: A's timer popped before call(B)'s cancel landed —
    // run A's wrapper anyway; the token check must keep B registered
    pending(0)._1.apply()
    assert(fired.isEmpty)
    assert(d.hasPending) // B still pending, not wiped by A's wrapper
    pending(1)._1.apply()
    assert(fired.toSeq == Seq("B"))
    assert(!d.hasPending)
  }

  test("snapshots: create, list, restore, retention pruning") {
    val wh = Files.createTempDirectory("graft-wh")
    val backups = Files.createTempDirectory("graft-bk").toString
    Files.writeString(wh.resolve("table.parquet"), "data-v1")

    val t1 = Instant.parse("2026-08-01T02:00:00Z")
    val t2 = Instant.parse("2026-08-10T02:00:00Z")
    val snap1 = Snapshots.create(wh.toString, backups, t1)
    Files.writeString(wh.resolve("table.parquet"), "data-v2")
    Snapshots.create(wh.toString, backups, t2)
    assert(Snapshots.list(backups).size == 2)

    // restore the old snapshot → v1 content back
    Snapshots.restore(snap1, wh.toString)
    assert(Files.readString(wh.resolve("table.parquet")) == "data-v1")

    // 7-day retention at t2 deletes the t1 snapshot only
    val deleted = Snapshots.applyRetention(backups, 7, t2)
    assert(deleted == Seq(Snapshots.snapshotName(t1)))
    assert(Snapshots.list(backups).size == 1)
  }

  test("backup schedule: cron next-run follows APScheduler semantics") {
    import java.time.LocalDateTime
    val now = LocalDateTime.parse("2026-08-12T14:30:15") // a Wednesday
    // default daily-at-02:00 schedule fires tomorrow 02:00
    assert(BackupSchedule.nextRun("0 2 * * *", now)
      .contains(LocalDateTime.parse("2026-08-13T02:00")))
    // same-day fire when still ahead of us
    assert(BackupSchedule.nextRun("0 18 * * *", now)
      .contains(LocalDateTime.parse("2026-08-12T18:00")))
    // every 15 minutes
    assert(BackupSchedule.nextRun("*/15 * * * *", now)
      .contains(LocalDateTime.parse("2026-08-12T14:45")))
    // strictly after: a boundary instant does not fire "now"
    assert(BackupSchedule.nextRun("0 2 * * *", LocalDateTime.parse("2026-08-13T02:00"))
      .contains(LocalDateTime.parse("2026-08-14T02:00")))
    // day_of_week 0 = Monday (APScheduler), not Sunday (classic cron)
    assert(BackupSchedule.nextRun("0 9 * * 0", now)
      .contains(LocalDateTime.parse("2026-08-17T09:00")))
    // day-of-month AND day-of-week (APScheduler), not classic cron's OR:
    // next 13th that is also a Monday-indexed 4 (= Friday)
    assert(BackupSchedule.nextRun("0 0 13 * 4", now)
      .contains(LocalDateTime.parse("2026-11-13T00:00")))
    // ranges and lists
    assert(BackupSchedule.nextRun("30 8-10 * * 0-4", now)
      .contains(LocalDateTime.parse("2026-08-13T08:30")))
  }

  test("backup schedule: disabled, invalid, and never-firing crons persist no next run") {
    import java.time.LocalDateTime
    val now = LocalDateTime.parse("2026-08-12T14:30")
    assert(BackupSchedule.nextRunFor(
      BackupSchedule.Schedule(enabled = false), now).isEmpty)
    assert(BackupSchedule.nextRun("not a cron", now).isEmpty)
    assert(BackupSchedule.nextRun("0 2 * *", now).isEmpty)     // 4 fields
    assert(BackupSchedule.nextRun("99 2 * * *", now).isEmpty)  // out of range
    assert(BackupSchedule.nextRun("0 2 30 2 *", now).isEmpty)  // Feb 30 never
    assert(BackupSchedule.nextRunFor(
      BackupSchedule.Schedule(enabled = true), now)
      .contains(LocalDateTime.parse("2026-08-13T02:00")))
  }
}
