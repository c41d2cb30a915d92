package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

/** Run independent driver-blocking steps concurrently: Spark
  * schedules jobs from several driver threads FIFO, so a second
  * step's tasks back-fill the executor slots the first one's tail
  * leaves idle. Only for steps with no ordering dependency — results
  * are identical by construction, just not serialized on the driver.
  * Every branch is submitted before any is awaited, in argument
  * order; the first failed branch rethrows here, and the branches
  * after it are not awaited. */
private[graft] object Par {

  def par2[A, B](a: => A, b: => B): (A, B) = {
    val fa = Future(a); val fb = Future(b)
    (Await.result(fa, Duration.Inf), Await.result(fb, Duration.Inf))
  }

  def par3[A, B, C](a: => A, b: => B, c: => C): (A, B, C) = {
    val fa = Future(a); val fb = Future(b); val fc = Future(c)
    (Await.result(fa, Duration.Inf), Await.result(fb, Duration.Inf),
      Await.result(fc, Duration.Inf))
  }
}
