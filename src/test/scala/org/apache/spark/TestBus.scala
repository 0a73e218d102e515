package org.apache.spark

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  StageInfo}

/** Listener-bus access for specs. Lives in this package only because
  * `SparkContext.listenerBus` is `private[spark]`. */
object TestBus {

  /** Block until every queued listener event has been delivered, so a
    * spec's SparkListener has seen every job its body launched. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Run `body` and return its value with the stages of every job it
    * launched, one Seq per job. Jobs are matched by a job group set on
    * this thread, so a stray job from elsewhere never counts. */
  def jobsOf[T](sc: SparkContext)(body: => T): (T, Seq[Seq[StageInfo]]) = {
    val group = s"spec_jobs_${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[StageInfo]]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null &&
            j.properties.getProperty("spark.jobGroup.id") == group)
          seen.add(j.stageInfos)
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "jobs counted by a spec")
    val v = try body
    finally {
      sc.clearJobGroup()
      drain(sc)
      sc.removeSparkListener(l)
    }
    import scala.jdk.CollectionConverters._
    (v, seen.asScala.toSeq)
  }
}
