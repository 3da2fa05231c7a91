package graft.jobs

import java.nio.charset.StandardCharsets.UTF_8

import scala.annotation.tailrec
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}

/** Job execution layer — the engine's form of the reference's Step
  * Function orchestration (stepfunction/definition.json:14-24: retry on
  * timeout/unknown with IntervalSeconds=30, BackoffRate=1,
  * MaxAttempts=10).
  *
  * Spark actions driven through runWithRetry must be idempotent — the
  * engine's sinks are (dynamic partition overwrite in PartitionedSink),
  * so a re-run after a mid-write failure converges to the same state.
  */
object Jobs {

  final case class RetryPolicy(maxAttempts: Int = 10,
                               intervalMs: Long = 30000,
                               backoffRate: Double = 1.0,
                               retryOn: Throwable => Boolean = _ => true)

  final class RetriesExhausted(val attempts: Int, cause: Throwable)
      extends RuntimeException(s"job failed after $attempts attempts", cause)

  /** Run `job`, retrying per `policy`. `sleep` is injectable for tests.
    * Only non-fatal errors are retried (and wrapped in
    * [[RetriesExhausted]] once out of attempts or refused by
    * `retryOn`): a fatal one — `OutOfMemoryError`, an interrupt, a
    * linkage error — propagates as is from the attempt that raised it,
    * since re-running a job in a dying or cancelled JVM only hides why
    * it failed. */
  def runWithRetry[T](policy: RetryPolicy = RetryPolicy(),
                      sleep: Long => Unit = Thread.sleep)(job: => T): T = {
    @tailrec
    def attempt(n: Int, delayMs: Long): T = {
      val result =
        try Right(job)
        catch {
          case NonFatal(e) if policy.retryOn(e) && n < policy.maxAttempts => Left(e)
          case NonFatal(e) => throw new RetriesExhausted(n, e)
        }
      result match {
        case Right(v) => v
        case Left(_) =>
          sleep(delayMs)
          attempt(n + 1, (delayMs * policy.backoffRate).toLong)
      }
    }
    attempt(1, policy.intervalMs)
  }

  final case class PipelineReport(ran: Seq[String], skipped: Seq[String])

  /** Run an ordered CHAIN of named idempotent steps with crash-resume —
    * the full shape of the reference's Step Function (definition.json:
    * collect → update-control → process-staging, each with its Retry
    * block): every step runs under [[runWithRetry]], and a durable
    * LEDGER (one completed step name per line, published via
    * content-complete tmp → delete → rename after each step, with the
    * tmp consulted on resume when a crash lands inside the
    * delete/rename window — the prefix is never lost) records progress
    * so a re-run after a
    * crash — or after [[RetriesExhausted]] — SKIPS the already-completed
    * prefix and resumes at the failed step, exactly the "restart the
    * execution" operator move. The ledger is deleted on full success,
    * so the next scheduled run starts clean. Steps must be idempotent
    * (the engine's sinks are — dynamic partition overwrite, MERGE,
    * commit-log replace): a step that completed but crashed BEFORE the
    * ledger rename re-runs and converges.
    *
    * Resume matches by NAME PREFIX in order: if the ledger disagrees
    * with the step list's order (a renamed/reordered pipeline), the
    * first mismatch invalidates the rest of the ledger — completed
    * work whose position moved is re-run rather than mis-skipped. */
  def runPipeline(fs: FileSystem, ledger: Path,
                  steps: Seq[(String, () => Unit)],
                  policy: RetryPolicy = RetryPolicy(),
                  sleep: Long => Unit = Thread.sleep): PipelineReport = {
    val tmp = new Path(ledger.getParent, s".${ledger.getName}.tmp")
    def readLines(p: Path): Seq[String] = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
    // Publish is write-tmp → delete-ledger → rename, and HDFS rename
    // won't overwrite, so there is an instant where only the tmp holds
    // the completed prefix. The tmp is always content-complete before
    // the delete (written + closed first), so recovery falls back to it
    // when the ledger is absent — a completed prefix is never lost and
    // the resume guarantee holds across a crash anywhere in publish.
    // (A partial tmp from a crash mid-write is never consulted: the
    // ledger it would have replaced still exists and wins.)
    val done: Seq[String] =
      if (fs.exists(ledger)) readLines(ledger)
      else if (fs.exists(tmp)) readLines(tmp)
      else Seq.empty
    val validPrefix = done.zip(steps.map(_._1)).takeWhile { case (a, b) => a == b }.size
    val skipped = steps.take(validPrefix).map(_._1)
    var completed = skipped.toList
    def writeLedger(): Unit = {
      val out = fs.create(tmp, true)
      try out.write((completed.mkString("\n") + "\n").getBytes(UTF_8))
      finally out.close()
      fs.delete(ledger, false)
      if (!fs.rename(tmp, ledger))
        throw new java.io.IOException(s"cannot publish pipeline ledger $ledger")
    }
    val ran = steps.drop(validPrefix).map { case (name, step) =>
      runWithRetry(policy, sleep)(step())
      completed = completed :+ name
      writeLedger()
      name
    }
    fs.delete(ledger, false)
    fs.delete(tmp, false) // full success: next scheduled run starts clean
    PipelineReport(ran, skipped)
  }
}
