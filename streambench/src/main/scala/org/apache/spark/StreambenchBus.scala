package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * a traced run waits for every event of one query before it attributes
  * them and starts the next query. */
object StreambenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
