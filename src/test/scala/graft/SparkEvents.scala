package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions.assert

import scala.jdk.CollectionConverters._

/** Listener events posted while a spec body runs. */
object SparkEvents {

  /** What `pick` takes from the listener events posted while `body` runs,
    * read between two marker jobs.
    */
  def during[T](spark: SparkSession)(pick: PartialFunction[SparkListenerEvent, T])(body: => Unit): Seq[T] = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Either[String, T]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("events.mark"))) match {
          case Some(m) => seen.add(Left(m))
          case None => pick.lift(e).foreach(t => seen.add(Right(t)))
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit =
        pick.lift(e).foreach(t => seen.add(Right(t)))
    }
    def mark(m: String): Unit = {
      sc.setLocalProperty("events.mark", m)
      sc.parallelize(Seq(1), 1).count()
      sc.setLocalProperty("events.mark", null)
    }
    sc.addSparkListener(listener)
    try {
      mark("start")
      body
      mark("end")
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.contains(Left("end")) && System.nanoTime() < deadline) Thread.sleep(50)
    } finally sc.removeSparkListener(listener)
    val all = seen.asScala.toSeq
    assert(all.contains(Left("end")), "end mark never reached the listener")
    all.dropWhile(_ != Left("start")).drop(1).takeWhile(_ != Left("end")).collect { case Right(t) => t }
  }

  /** Spark jobs started while `body` runs. */
  def jobs(spark: SparkSession)(body: => Unit): Int =
    during(spark) { case e: SparkListenerJobStart => e }(body).size
}
