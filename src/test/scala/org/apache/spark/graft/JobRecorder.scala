package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The Spark jobs a block of code launches, for specs that pin a job
  * count. Lives in Spark's package because draining the listener bus
  * (so that no job start is still in flight when the block returns) is
  * Spark-private. */
object JobRecorder {

  def record[A](sc: SparkContext)(body: => A): (A, Seq[SparkListenerJobStart]) = {
    sc.listenerBus.waitUntilEmpty()
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.add(js); () }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** True iff one of `jobs` ran a range partitioner's sampling pass: a
    * RESULT stage whose final RDD is an exchange's own (the sampler
    * collects from the exchange's input). A shuffle map stage also ends in
    * the exchange but is no result stage; a query's result stage ends in
    * its operator (a write, a collect). */
  def sampledForRangeSort(jobs: Seq[SparkListenerJobStart]): Boolean =
    jobs.exists(_.stageInfos.exists(st => st.shuffleDepId.isEmpty &&
      st.rddInfos.headOption.exists(_.scope.exists(_.name == "Exchange"))))
}
