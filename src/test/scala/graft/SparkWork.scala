package graft

import org.apache.spark.scheduler.StageInfo
import org.apache.spark.sql.SparkSession

/** The Spark work a block of code runs: its ended jobs and completed
  * stages. The listener bus is drained on both sides, so every event of
  * the block, and none from before it, is counted.
  */
object SparkWork {
  final case class Work(jobs: Int, stages: Seq[StageInfo])

  def apply(spark: SparkSession)(body: => Unit): Work = {
    import java.util.concurrent.ConcurrentLinkedQueue
    import java.util.concurrent.atomic.AtomicInteger
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
      SparkListenerStageCompleted}
    val sc = spark.sparkContext
    // LiveListenerBus.waitUntilEmpty is private[spark]: reached by reflection
    def drain(): Unit = {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }
    val jobs = new AtomicInteger
    val stages = new ConcurrentLinkedQueue[StageInfo]
    val tap = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.add(e.stageInfo)
    }
    drain()
    sc.addSparkListener(tap)
    try { body; drain() } finally sc.removeSparkListener(tap)
    Work(jobs.get, stages.asScala.toSeq)
  }
}
