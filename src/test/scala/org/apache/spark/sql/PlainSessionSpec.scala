package org.apache.spark.sql

/** A session built without the graft extensions — possible only from
  * this package, since the classic constructor is `private[sql]`.
  */
class PlainSessionSpec extends graft.SparkSpecBase {

  test("QueryService refuses a session without the graft extensions") {
    val plain = new classic.SparkSession(spark.sparkContext)
    assert(!plain.sessionState.sqlParser.isInstanceOf[graft.service.GraftSqlParser])
    val e = intercept[IllegalArgumentException](new graft.service.QueryService(plain))
    assert(e.getMessage.contains("GraftSession"), e.getMessage)
  }
}
