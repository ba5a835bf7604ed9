package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Driver-generated parquet fixture dir (TESTDATA.md), overridable for
    * machines with a different layout.
    */
  def testDataDir(sf: String): String =
    sys.env.getOrElse("SPARK_GRAFT_TESTDATA", "/root/testdata") + s"/$sf"

  /** `body`'s result with the number of Spark jobs and of stages it
    * started: those between two marker jobs, less the first marker's
    * own job and stage (the listener bus delivers events in posting
    * order).
    */
  def sparkWork[A](body: => A): (A, Int, Int) = {
    val events = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        events.add("job:" + Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        events.add("stage")
    }
    def marker(tag: String): Unit = {
      spark.sparkContext.setJobDescription(tag)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      marker("work-begin")
      val a = body
      marker("work-end")
      val seen = scala.collection.mutable.ArrayBuffer.empty[String]
      while (!seen.lastOption.contains("job:work-end")) {
        val ev = events.poll(30, java.util.concurrent.TimeUnit.SECONDS)
        assert(ev != null, s"listener saw no end marker; got $seen")
        seen += ev
      }
      val mine = seen.dropWhile(_ != "job:work-begin")
      (a, mine.count(_.startsWith("job:")) - 2, mine.count(_ == "stage") - 1)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  override def afterAll(): Unit = () // session shared across suites
}

object SparkSpec {
  /** Built by [[GraftSession.builder]], so the specs run with the
    * settings Bench and perfbench run with.
    */
  lazy val session: SparkSession = GraftSession.builder("local[4]", 4, "graft-test")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
