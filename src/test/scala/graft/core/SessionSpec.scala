package graft.core

import graft.SparkSpec

/** [[Session.local]] is the only place the shared confs are set: the JVM
  * flags set none of them.
  */
class SessionSpec extends SparkSpec {

  test("a new session of Session.local reads the UTC session time zone, and the context has no UI") {
    assert(spark.newSession().conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }
}
