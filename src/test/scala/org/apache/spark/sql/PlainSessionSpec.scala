package org.apache.spark.sql

/** A session built without the graft extensions, on the test session's
  * context — possible only from this package, since the classic
  * constructor is `private[sql]`.
  */
object PlainSession {
  def apply(spark: SparkSession): SparkSession = new classic.SparkSession(spark.sparkContext)
}

class PlainSessionSpec extends graft.SparkSpecBase {

  test("QueryService refuses a session without the graft extensions") {
    val plain = PlainSession(spark)
    assert(!plain.sessionState.sqlParser.isInstanceOf[graft.service.GraftSqlParser])
    val e = intercept[IllegalArgumentException](new graft.service.QueryService(plain))
    assert(e.getMessage.contains("GraftSession"), e.getMessage)
  }
}
