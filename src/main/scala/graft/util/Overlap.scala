package graft.util

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Independent Spark actions started on their own threads, so that
  * their fixed per-job costs (job launch, output commit, small stages
  * that leave cores idle) overlap. One new thread per task inherits the
  * caller's Spark local properties (job group, description, pool). */
object Overlap {

  private val threadPerTask: ExecutionContext =
    ExecutionContext.fromExecutor((r: Runnable) => new Thread(r).start())

  /** Start `body` on a new thread. */
  def start[T](body: => T): Future[T] = Future(body)(threadPerTask)

  /** Wait for every task, then return their values or rethrow the first
    * failure in the given order: no failure surfaces while a task still
    * runs. */
  def join[T](tasks: Seq[Future[T]]): Seq[T] = {
    tasks.foreach(Await.ready(_, Duration.Inf))
    tasks.map(_.value.get.get)
  }

  /** Run `body` while `tasks` run. When `body` throws, wait for the
    * tasks before rethrowing, so that none outlives its failing caller
    * (a write still running could otherwise land in a directory that a
    * retry has rewritten since); their own failures are dropped. */
  def alongside[T](tasks: Seq[Future[_]])(body: => T): T =
    try body
    catch {
      case e: Throwable =>
        tasks.foreach(Await.ready(_, Duration.Inf))
        throw e
    }
}
