package graft.util

import java.util.concurrent.{CompletionException, ExecutorService, Executors}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** Driver-side overlap of two independent pieces of work — typically
  * two small Spark writes of the same batch, which are only sequential
  * because one driver thread would submit them one after the other.
  *
  * `background` runs on a pooled driver thread under the caller's
  * active session and Spark local properties (job group, job tags,
  * scheduler pool, SQL execution id), captured at submit time by
  * `SQLExecution.withThreadLocalCaptured` — so its jobs are attributed
  * to, and cancelled with, the caller's. `foreground` runs on the
  * calling thread. The background side is ALWAYS joined before this
  * returns or rethrows, so no background work outlives the call:
  *   - foreground fails: its exception propagates, with the
  *     background's failure (if any) attached as suppressed;
  *   - only the background fails: its exception is rethrown. */
object Overlap {
  private val pool: ExecutorService = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-overlap"); t.setDaemon(true); t
  }

  def apply[B, F](spark: SparkSession)(background: => B)(
      foreground: => F): (B, F) = {
    val bg = SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      pool)(background)
    // CompletableFuture.join waits through interrupts (and re-asserts
    // the flag), so the join cannot be skipped by a cancelled caller
    def join(): B =
      try bg.join()
      catch { case e: CompletionException if e.getCause != null =>
        throw e.getCause }
    val f =
      try foreground
      catch { case t: Throwable =>
        try join()
        catch { case b: Throwable if b ne t => t.addSuppressed(b) }
        throw t
      }
    (join(), f)
  }
}
