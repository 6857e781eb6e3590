package org.apache.spark.graftx

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts. The block runs under a job
  * group of its own, and only jobs of that group are recorded, so
  * jobs of suites running at the same time are not counted. The
  * listener bus is `private[spark]`, hence this package: it is drained
  * before the record is read, so no job start is missed. */
object JobProbe {
  /** The stage names of each job `body` started, one entry per job. */
  def apply(sc: SparkContext)(body: => Unit): Seq[Seq[String]] = {
    val group = s"jobprobe-${java.util.UUID.randomUUID()}"
    val jobs = new ConcurrentLinkedQueue[Seq[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
          _.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group))
          jobs.add(e.stageInfos.map(_.name))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job probe")
    try body
    finally {
      sc.clearJobGroup()
      sc.listenerBus.waitUntilEmpty()
      sc.removeSparkListener(listener)
    }
    jobs.asScala.toSeq
  }

  /** Waits until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
