package graft.finance.ops

import java.util.{Timer, TimerTask}

/** Trailing-edge debouncer — the reference's editor-save coalescer
  * (`ui/backend/services/dagster_trigger.py:29-53`, 45 s default from
  * `constants.py:35`): every call cancels the pending action and
  * re-schedules it `delayMs` out, so a burst of category edits launches
  * exactly one retrain job.
  *
  * The scheduler is injectable for deterministic tests; the default uses a
  * daemon Timer like the reference's daemon threading.Timer.
  */
final class Debouncer(
    delayMs: Long,
    schedule: (Long, () => Unit) => () => Unit = Debouncer.timerSchedule) {

  // (cancel fn, identity token). The firing wrapper clears the slot ONLY if
  // it still holds its own token: a task that starts firing concurrently
  // with a newer call() must not wipe the newer registration (that race
  // would leave hasPending=false while a task is scheduled, and let a
  // subsequent call() skip the cancel — firing the action more than once).
  private var pending: Option[(() => Unit, AnyRef)] = None
  private val lock = new Object

  /** Schedule `action` after the delay, cancelling any pending schedule. */
  def call(action: () => Unit): Unit = lock.synchronized {
    pending.foreach(_._1.apply())
    val token = new Object
    val cancel = schedule(delayMs, () => {
      val stillCurrent = lock.synchronized {
        val current = pending.exists(_._2 eq token)
        if (current) pending = None
        current
      }
      if (stillCurrent) action()
    })
    pending = Some((cancel, token))
  }

  /** Whether an action is scheduled and has not fired. Only OpsSpec reads
    * it, to observe the race above. */
  def hasPending: Boolean = lock.synchronized(pending.isDefined)
}

object Debouncer {
  val DefaultDebounceSeconds = 45 // EDITOR_FIX_DEBOUNCE_SECONDS (constants.py:35)

  private lazy val timer = new Timer("graft-debounce", true)

  private def timerSchedule(delayMs: Long, action: () => Unit): () => Unit = {
    val task = new TimerTask {
      // an escaping exception would kill the shared Timer thread and
      // permanently disable every Debouncer — contain it
      override def run(): Unit =
        try action() catch { case e: Exception => e.printStackTrace() }
    }
    timer.schedule(task, delayMs)
    () => { task.cancel(); () }
  }
}
