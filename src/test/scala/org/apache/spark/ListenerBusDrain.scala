package org.apache.spark

/** Bridge to the listener bus's drain, which Spark keeps package-private:
  * a spec that counts listener events reads its count only after every
  * event of the work it watched has been delivered. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
