package graft.service

import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import scala.util.control.NonFatal

/** The async-task backbone behind the reference's HTTP layer — Celery's
  * submit / state-store / poll contract (reference: app/celery.py:7-31,
  * app/models.py:126-155 celery_taskmeta, app/task/blueprint.py:14-56)
  * reduced to what the engine actually needs: run named work on a pool,
  * record terminal state + result/error, answer polls.
  *
  * Celery semantics kept deliberately:
  *  - an UNKNOWN task id polls as PENDING (AsyncResult never 404s);
  *  - states are the celery strings (PENDING/STARTED/SUCCESS/FAILURE);
  *  - `onError` is the chain's `.on_error(send_task_fail_mail.s(...))`
  *    hook — it fires on failure with the task id and exception, and the
  *    failure still lands in the state store;
  *  - the task-meta store is queryable by task NAME, which is what
  *    `GET /tasks/ids?route_name=…` resolves through the route mapping
  *    (app/task/blueprint.py:59-102, jobs/task_names.py).
  *
  * In-memory by design: the engine-side state of record for versions and
  * sign-offs is the warehouse (model/SignOff); this store only tracks
  * in-flight work, exactly like the reference's celery_taskmeta rows.
  */
object TaskRunner {
  /** One celery_taskmeta-shaped record. Lives on the companion (not inside
    * the class) so pattern matches need no outer-instance check. */
  final case class Meta(id: String, name: String, status: String,
                        result: Option[String], error: Option[String],
                        seq: Long = 0L)
}

final class TaskRunner(threads: Int = 2, maxRecords: Int = 10000) {
  import TaskRunner.Meta

  private val metas = new ConcurrentHashMap[String, Meta]()
  private val pool = Executors.newFixedThreadPool(threads)
  private val seqGen = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Celery expires results (result_expires); an unbounded task-meta store
    * would leak every result string ever produced in a long-lived service.
    * When the store exceeds `maxRecords`, the oldest TERMINAL records are
    * dropped (in-flight tasks are never evicted); an evicted id simply
    * polls PENDING again — AsyncResult semantics for an expired result. */
  private def evictIfNeeded(): Unit = if (metas.size() > maxRecords) {
    import scala.jdk.CollectionConverters._
    metas.values().asScala.toSeq
      .filter(m => m.status == "SUCCESS" || m.status == "FAILURE")
      .sortBy(_.seq)
      .take(metas.size() - maxRecords)
      .foreach(m => metas.remove(m.id))
  }

  /** Submit named work; returns the task id immediately (the `.delay()`
    * contract). `work` returns the task's result string (what the
    * reference stores in celery_taskmeta.result). A non-fatal exception
    * is the task's FAILURE; a fatal one (out of memory, an interrupt) is
    * not caught and ends the pool thread. */
  def submit(name: String, onError: (String, Throwable) => Unit = (_, _) => ())
            (work: => String): String = {
    val id = java.util.UUID.randomUUID().toString
    val seq = seqGen.incrementAndGet()
    metas.put(id, Meta(id, name, "PENDING", None, None, seq))
    pool.execute { () =>
      metas.put(id, Meta(id, name, "STARTED", None, None, seq))
      try {
        val r = work
        metas.put(id, Meta(id, name, "SUCCESS", Some(r), None, seq))
      } catch {
        case NonFatal(e) =>
          metas.put(id, Meta(id, name, "FAILURE", None,
            Some(String.valueOf(e.getMessage)), seq))
          try onError(id, e) catch { case NonFatal(_) => () }
      }
      evictIfNeeded()
    }
    id
  }

  /** Poll: unknown ids are PENDING, like Celery's AsyncResult. */
  def state(id: String): String =
    Option(metas.get(id)).map(_.status).getOrElse("PENDING")

  def meta(id: String): Option[Meta] = Option(metas.get(id))

  /** All task metas recorded under a task name — the celery_taskmeta
    * SELECT behind `/tasks/ids`. */
  def byName(name: String): Seq[Meta] = {
    import scala.jdk.CollectionConverters._
    metas.values().asScala.filter(_.name == name).toSeq.sortBy(_.seq)
  }

  /** Test/embedding helper: block until the task reaches a terminal state. */
  def await(id: String, timeoutMs: Long = 30000): String = {
    val deadline = System.nanoTime() + TimeUnit.MILLISECONDS.toNanos(timeoutMs)
    while (System.nanoTime() < deadline) {
      val s = state(id)
      if (s == "SUCCESS" || s == "FAILURE") return s
      Thread.sleep(10)
    }
    state(id)
  }

  def shutdown(): Unit = pool.shutdownNow()
}
