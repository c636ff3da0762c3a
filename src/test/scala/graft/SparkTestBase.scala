package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.Suite

/** Shared local SparkSession for all specs (one per forked test JVM)
  * plus the reference-derived golden fixtures of FIXTURES.md §A:
  * `employees` (reference: tests/conftest.py:22-32) and `products`
  * (tests/conftest.py:36-43).
  */
trait SparkTestBase { self: Suite =>

  lazy val spark: SparkSession = SparkTestBase.session

  /** A1 golden table: 10 rows, 2 null ages, 2 null salaries, 1 null
    * department. */
  def employeesDf: DataFrame = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, "Employee 1", Some(25L), Some(50000L), Some("HR")),
      (2L, "Employee 2", Some(30L), Some(60000L), Some("IT")),
      (3L, "Employee 3", Some(35L), None, Some("Finance")),
      (4L, "Employee 4", None, Some(80000L), Some("IT")),
      (5L, "Employee 5", Some(45L), Some(90000L), Some("HR")),
      (6L, "Employee 6", Some(50L), Some(100000L), Some("Finance")),
      (7L, "Employee 7", Some(55L), Some(110000L), Some("HR")),
      (8L, "Employee 8", Some(60L), Some(120000L), None),
      (9L, "Employee 9", None, None, Some("IT")),
      (10L, "Employee 10", Some(70L), Some(140000L), Some("Finance"))
    ).toDF("id", "name", "age", "salary", "department")
  }

  /** Spark jobs that `body` submits, counted by a listener on a job
    * group that the body's worker threads inherit. A marker job after
    * the body flushes the asynchronous listener bus up to it. */
  def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"job-guard-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet()
          case g if g == s"$group-marker" => marker.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job-count guard")
      body
      sc.setJobGroup(s"$group-marker", "listener flush")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus did not flush")
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** A2 golden table: 5 rows, one negative price (Product E). */
  def productsDf: DataFrame = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, "Product A", 10.99, "Electronics"),
      (2L, "Product B", 20.50, "Clothing"),
      (3L, "Product C", 5.99, "Food"),
      (4L, "Product D", 100.00, "Electronics"),
      (5L, "Product E", -1.00, "Clothing")
    ).toDF("product_id", "name", "price", "category")
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
