package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The two Spark internals the benchmark needs, both package-private to
  * Spark: draining the listener bus before reading its listeners'
  * counters, and removing an RDD's blocks by id (blocks of pins the
  * program dropped without freeing stay until a GC lets Spark's cleaner
  * see them, and no public call reaches them). Removal posts the same
  * unpersist event Spark's own cleaner posts.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  def removeRdd(sc: SparkContext, rddId: Int): Unit = sc.unpersistRDD(rddId, blocking = true)
}
