package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Counts the Spark jobs a block starts, through a SparkListener. Jobs are
  * matched by a local property set on the calling thread (Spark copies it
  * into the jobs it starts for that thread, AQE stage jobs included).
  * Listener events arrive asynchronously but in order, so a marker job
  * run after the block drains them: once its start is seen, every job the
  * block started has been counted. */
object JobCounter {
  private val key = "graft.test.jobTag"

  /** The block's result and the name (short call site) of each job it
    * started, in start order. */
  def apply[T](sc: SparkContext)(f: => T): (T, Seq[String]) = {
    val tag = java.util.UUID.randomUUID().toString
    val names = new ConcurrentLinkedQueue[String]()
    val drained = new CountDownLatch(1)
    // a job's name: the action of the SQL execution that started it (AQE
    // stage jobs carry their root execution's id), else its last stage's
    val actions = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          actions.put(s.executionId.toString, s.description)
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        props.map(_.getProperty(key)).orNull match {
          case `tag` =>
            names.add(props.flatMap(p => Option(p.getProperty(
                "spark.sql.execution.root.id")).flatMap(id => Option(actions.get(id))))
              .getOrElse(e.stageInfos.lastOption.fold("")(_.name)))
          case t if t == s"$tag:end" => drained.countDown()
          case _ => ()
        }
      }
    }
    val prev = sc.getLocalProperty(key)
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      val out = f
      sc.setLocalProperty(key, s"$tag:end")
      sc.parallelize(Seq(1), 1).count()
      require(drained.await(60, TimeUnit.SECONDS), "listener events did not drain")
      (out, names.asScala.toSeq)
    } finally {
      sc.setLocalProperty(key, prev)
      sc.removeSparkListener(listener)
    }
  }
}
