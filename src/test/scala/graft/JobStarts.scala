package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs a block of driver code starts, seen by a listener that
  * is registered only while the block runs. */
object JobStarts {
  /** Local property Structured Streaming sets on its execution thread, so
    * it tags every job a streaming query runs (micro-batches, foreachBatch
    * writes, initial state). */
  val streamingQueryIdKey = "sql.streaming.queryId"

  def during[T](spark: SparkSession)(body: => T): (T, Seq[SparkListenerJobStart]) = {
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    val seen = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.add(e)
    }
    sc.addSparkListener(listener)
    try {
      val result = body
      ListenerBusDrain(sc)
      (result, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** Whether the job ran inside a streaming query. */
  def fromStream(e: SparkListenerJobStart): Boolean =
    Option(e.properties).exists(_.getProperty(streamingQueryIdKey) != null)
}
