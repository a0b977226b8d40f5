package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all suites — one per JVM (tests fork
  * a single JVM; getOrCreate dedups across suites). */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {

  /** Two partitions, so plan-shape assertions see the same exchange
    * layout on any host. */
  lazy val spark: SparkSession = Session.local(2)

  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[Path]

  /** A fresh directory under the JVM temp root, deleted with all it
    * holds in `afterAll`, once the suite's streaming queries have
    * stopped. */
  def tempDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs.synchronized(tempDirs += dir)
    dir.toString
  }

  override def afterAll(): Unit =
    try if (tempDirs.nonEmpty) {
      spark.streams.active.foreach(_.stop())
      tempDirs.filter(Files.exists(_)).foreach { dir =>
        val paths = Files.walk(dir)
        try paths.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
        finally paths.close()
      }
      tempDirs.clear()
    } finally super.afterAll()

  def resourcePath(name: String): String =
    getClass.getClassLoader.getResource(name).getPath

  /** How many Spark jobs `body` starts, AQE stage jobs included. The
    * jobs are told apart by a job group set around `body`; a fence job
    * runs after it, and the count is read once the listener has seen
    * the fence start, so every job start of `body` has been delivered. */
  def jobsDuring(body: => Any): Int = {
    val sc = spark.sparkContext
    val tag = s"jobsDuring-${java.util.UUID.randomUUID}"
    val fence = s"$tag-fence"
    val jobs = new AtomicInteger
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `tag` => jobs.incrementAndGet()
          case `fence` => fenced.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(tag, tag)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(fence, fence)
      try sc.parallelize(Seq(0), 1).count() finally sc.clearJobGroup()
      assert(fenced.await(60, TimeUnit.SECONDS), "the fence job's start never arrived")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}
