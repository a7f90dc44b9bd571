package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.internal.config.DEFAULT_PARALLELISM

/** Runs a block with a local SparkContext's default parallelism set to `n`,
  * as a cluster's grows when executors register. Lives under
  * `org.apache.spark` to reach the context's live conf, which the local
  * scheduler reads on every `defaultParallelism` call.
  */
object LocalParallelism {
  def apply[A](sc: SparkContext, n: Int)(body: => A): A = {
    val key = DEFAULT_PARALLELISM.key
    val before = sc.conf.getOption(key)
    sc.conf.set(key, n.toString)
    try body
    finally before.fold(sc.conf.remove(key))(sc.conf.set(key, _)): Unit
  }
}
