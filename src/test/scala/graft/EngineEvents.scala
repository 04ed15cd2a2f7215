package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What a block of driver code made the engine execute, for specs.
  * Listener events arrive asynchronously; each capture is bracketed by
  * a marker action run before and after the block, and waits for the
  * marker's event — events are delivered in order, so everything the
  * block executed has arrived by then and nothing from earlier leaks
  * in. Assumes no other thread runs jobs meanwhile. */
object EngineEvents {
  private def marker() = s"graft-events-${java.util.UUID.randomUUID()}"

  private def await(cond: => Boolean, what: String): Unit = {
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
    while (!cond) {
      require(System.nanoTime() < deadline, s"listener never saw $what")
      Thread.sleep(5)
    }
  }

  /** The descriptions ("" when unset) of the Spark jobs started while
    * `block` ran. */
  def jobsRun(spark: SparkSession)(block: => Unit): Seq[String] =
    listen(spark)(block)._1

  /** The stages submitted while `block` ran (a stage that reads its
    * job's input has no `parentIds`). */
  def stagesRun(spark: SparkSession)(block: => Unit): Seq[StageInfo] =
    listen(spark)(block)._2

  private def listen(spark: SparkSession)(
      block: => Unit): (Seq[String], Seq[StageInfo]) = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[String]
    val stages = new ConcurrentLinkedQueue[StageInfo]
    val marks = new ConcurrentLinkedQueue[String]
    val markStages = ConcurrentHashMap.newKeySet[Int]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        if (d.startsWith("graft-events-")) {
          e.stageIds.foreach(markStages.add)
          marks.add(d)
        } else jobs.add(d)
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.add(e.stageInfo)
    }
    def drain(): Unit = {
      val m = marker()
      sc.setJobDescription(m)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      await(marks.contains(m), m)
    }
    sc.addSparkListener(l)
    try {
      drain()
      jobs.clear()
      stages.clear()
      block
      drain()
      (jobs.asScala.toSeq,
        stages.asScala.toSeq.filterNot(s => markStages.contains(s.stageId)))
    } finally sc.removeSparkListener(l)
  }

  /** The query executions that finished while `block` ran. */
  def plansRun(spark: SparkSession)(block: => Unit): Seq[QueryExecution] = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = seen.add(qe)
    }
    def drain(): Unit = {
      val m = marker()
      spark.range(1).select(org.apache.spark.sql.functions.lit(m)).collect()
      await(seen.asScala.exists(_.analyzed.toString.contains(m)), m)
    }
    spark.listenerManager.register(l)
    try {
      drain()
      seen.clear()
      block
      drain()
      seen.asScala.toSeq.filterNot(_.analyzed.toString.contains("graft-events-"))
    } finally spark.listenerManager.unregister(l)
  }
}
