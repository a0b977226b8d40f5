package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all suites — one per JVM (tests fork
  * a single JVM; getOrCreate dedups across suites). */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {

  /** Two partitions, so plan-shape assertions see the same exchange
    * layout on any host. */
  lazy val spark: SparkSession = Session.local(2)

  def resourcePath(name: String): String =
    getClass.getClassLoader.getResource(name).getPath
}
