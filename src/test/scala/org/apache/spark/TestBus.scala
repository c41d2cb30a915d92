package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block of driver code starts. Listener
  * events are delivered asynchronously, so the count is read only
  * after the bus has delivered every event posted so far — the drain
  * call is package-private to Spark. Suites run one at a time in the
  * test JVM, so every job started meanwhile is the block's. */
object TestBus {
  private val started = new AtomicInteger
  private var registered: Option[SparkContext] = None

  def jobsOf(sc: SparkContext)(body: => Any): Int = synchronized {
    if (!registered.contains(sc)) {
      sc.addSparkListener(new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          started.incrementAndGet()
      })
      registered = Some(sc)
    }
    sc.listenerBus.waitUntilEmpty()
    started.set(0)
    body
    sc.listenerBus.waitUntilEmpty()
    started.get()
  }
}
