package org.apache.spark

/** Test access to SparkContext state that Spark keeps private. */
object SparkTestAccess {
  /** Block until every event posted so far has reached the listeners, so
    * that a spec counts exactly the events of the call it measured.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Put the checkpoint directory back as it was, unset included (there is
    * no public way to unset it), so a spec that needs one leaves no trace
    * for the specs that check the "no directory" path.
    */
  def restoreCheckpointDir(sc: SparkContext, dir: Option[String]): Unit =
    sc.checkpointDir = dir
}
