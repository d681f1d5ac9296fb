package graft

import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.graftshim.GraftCore
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for all specs (one JVM per `sbt test` fork). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.runtime.Sessions
      .configure(SparkSession.builder().master("local[4]"), shufflePartitions = 4)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark

  /** `body`'s result and the number of jobs it started. */
  protected def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    assert(GraftCore.drainListenerBus(sc, 30000))
    sc.addSparkListener(l)
    try {
      val r = body
      assert(GraftCore.drainListenerBus(sc, 30000))
      (r, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  /** `body`'s result and the SQL executions it ran. */
  protected def withExecs[T](body: => T): (T, Seq[(String, QueryExecution)]) = {
    val execs = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = execs.add(f -> qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = execs.add(f -> qe)
    }
    assert(GraftCore.drainListenerBus(spark.sparkContext, 30000))
    spark.listenerManager.register(l)
    try {
      val r = body
      assert(GraftCore.drainListenerBus(spark.sparkContext, 30000))
      (r, execs.asScala.toSeq)
    } finally spark.listenerManager.unregister(l)
  }
}
