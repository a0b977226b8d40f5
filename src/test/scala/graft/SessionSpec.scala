package graft

/** The shared test session is built by [[Session.local]], so it carries
  * the same config as Bench and Verify, with two cores. */
class SessionSpec extends SparkSuite {

  test("Session.local(2): two shuffle partitions, UTC, the bench's codegen cache, GraftExtensions") {
    val conf = spark.conf
    assert(conf.get("spark.sql.shuffle.partitions") == "2")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "20000")
    val r = spark.sql("SELECT vec_dot(array(1d, 2d), array(3d, 4d))").collect()(0)
    assert(r.getDouble(0) == 11.0)
  }
}
