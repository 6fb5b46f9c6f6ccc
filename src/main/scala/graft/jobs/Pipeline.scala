package graft.jobs

import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** The reference's batch-DAG contract (reference: main.py:29-125): an ordered
  * list of named jobs where a failure is reported and the DAG continues —
  * per-table try/except → mail → keep going
  * (reference: jobs/raw_to_staging.py:208-213, main.py:118-125).
  *
  * The mail side-channel is a [[Notifier]] trait (SMTP in the reference,
  * reference: services/mail_service.py:27-99; a log collector here), so jobs
  * stay side-effect-free and testable.
  */
object Pipeline {

  trait Notifier extends Serializable {
    def success(job: String): Unit
    def failure(job: String, error: Throwable): Unit
  }

  final class CollectingNotifier extends Notifier {
    val events = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    override def success(job: String): Unit = events += (("success", job))
    override def failure(job: String, error: Throwable): Unit =
      events += (("failure", s"$job: ${error.getMessage}"))
  }

  object LogNotifier extends Notifier {
    override def success(job: String): Unit =
      System.err.println(s"[pipeline] success: $job")
    override def failure(job: String, error: Throwable): Unit =
      System.err.println(s"[pipeline] FAILED: $job: ${error.getMessage}")
  }

  final case class Job(name: String, run: SparkSession => Unit)

  /** Run jobs in order; failures are isolated per job (the reference's error
    * model: errors do not halt the DAG). Returns the names of failed jobs.
    * A fatal error (out of memory, an interrupt) is not a job's failure: it
    * ends the run, since the JVM left behind cannot be trusted. */
  def run(spark: SparkSession, jobs: Seq[Job],
          notifier: Notifier = LogNotifier): Seq[String] =
    jobs.flatMap { job =>
      try {
        job.run(spark)
        notifier.success(job.name)
        None
      } catch {
        case NonFatal(e) =>
          notifier.failure(job.name, e)
          Some(job.name)
      }
    }

  /** Single-flight guard for expensive jobs — the reference's
    * maxsize-1 model-job queue (reference: utils/indicator_queue.py:5-17,
    * used to keep one simulator run in flight at a time): a second submit
    * while one is running is REJECTED, not queued. `submit` returns
    * Left("busy") immediately in that case; the caller (the reference's
    * HTTP layer) surfaces it to the user. Thread-safe; the permit is
    * released on success AND failure.
    *
    * Work that ends on another thread (an async task) takes the permit
    * with `acquire` and hands the release to whatever runs last. */
  final class SingleFlight(name: String = "model job") {
    private val running = new java.util.concurrent.atomic.AtomicBoolean(false)

    /** Take the permit, or Left("busy"); the caller must run the returned
      * release exactly once, when its work ends. */
    def acquire(): Either[String, () => Unit] =
      if (running.compareAndSet(false, true)) Right(() => running.set(false))
      else Left(s"$name is busy")

    def submit[A](work: => A): Either[String, A] =
      acquire().map(release => try work finally release())
  }
}
