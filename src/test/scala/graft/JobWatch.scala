package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The Spark jobs started while a body runs, seen by a listener. */
object JobWatch {

  /** One job: its local properties and stage names. */
  final case class Job(props: java.util.Properties, stages: Seq[String]) {
    def inSql: Boolean = props.getProperty("spark.sql.execution.id") != null
    def group: String = props.getProperty("spark.jobGroup.id")
  }

  /** Listener delivery is asynchronous but ordered, so once a trailing
    * fence job's start has arrived, so has every earlier job's. */
  def during(spark: SparkSession)(body: => Unit): Seq[Job] = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Job(Option(e.properties).getOrElse(new java.util.Properties),
          e.stageInfos.map(_.name)))
    }
    def isFence(j: Job, fence: String) =
      j.props.getProperty("graft.spec.fence") == fence
    sc.addSparkListener(listener)
    try {
      body
      val fence = java.util.UUID.randomUUID().toString
      sc.setLocalProperty("graft.spec.fence", fence)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.spec.fence", null)
      val deadline = System.nanoTime() + 30000000000L
      while (!seen.asScala.exists(isFence(_, fence)) &&
          System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.asScala.exists(isFence(_, fence)), "fence job never seen")
      seen.asScala.toSeq.filterNot(isFence(_, fence))
    } finally sc.removeSparkListener(listener)
  }
}
