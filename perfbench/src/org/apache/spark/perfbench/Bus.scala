package org.apache.spark.perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.{CleanerListener, SparkContext}

/** Access to Spark internals that are package-private: the listener bus,
  * which a traced run drains so that counters read after an operation
  * include every event it produced, and the context cleaner, whose
  * asynchronous releases a live-heap sample waits out. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  private val cleaned = new AtomicLong

  def watchCleaner(sc: SparkContext): Unit = sc.cleaner.foreach(_.attachListener(
    new CleanerListener {
      def rddCleaned(rddId: Int): Unit = cleaned.incrementAndGet()
      def shuffleCleaned(shuffleId: Int): Unit = cleaned.incrementAndGet()
      def broadcastCleaned(broadcastId: Long): Unit = cleaned.incrementAndGet()
      def accumCleaned(accId: Long): Unit = cleaned.incrementAndGet()
      def checkpointCleaned(rddId: Long): Unit = cleaned.incrementAndGet()
    }))

  /** Full collections until neither the cleaner nor the block manager
    * releases anything more (at most 10 rounds): what a collection frees
    * lets the cleaner drop broadcasts, shuffles and blocks, which only the
    * next collection reclaims. */
  def quiesce(sc: SparkContext): Unit = {
    def state(): (Long, Long) = (cleaned.get,
      sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum)
    var rounds = 0
    var changed = true
    while (changed && rounds < 10) {
      val before = state()
      System.gc()
      var now = state()
      var settled = false
      var waits = 0
      while (!settled && waits < 50) {
        Thread.sleep(30)
        val next = state()
        settled = next == now
        now = next
        waits += 1
      }
      changed = now != before
      rounds += 1
    }
  }
}
