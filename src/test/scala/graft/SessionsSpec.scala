package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session profiles are checked as values: building a second session
  * here would overlay its confs on the shared test session. */
class SessionsSpec extends AnyFunSuite {

  test("the AQE-on and AQE-off profiles differ only in AQE") {
    for (cores <- Seq(1, 4, 32)) {
      val on = Sessions.settings(cores, aqe = true)
      val off = Sessions.settings(cores, aqe = false)
      for (p <- Seq(on, off)) {
        assert(p("spark.master") == s"local[$cores]")
        assert(p("spark.sql.shuffle.partitions") == cores.toString)
        assert(p("spark.sql.session.timeZone") == "UTC")
        assert(p("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "65536")
        assert(p("spark.ui.enabled") == "false")
      }
      assert(on("spark.sql.adaptive.enabled") == "true")
      assert(off("spark.sql.adaptive.enabled") == "false")
      assert(on.keySet == off.keySet)
      assert(on.keySet.filter(k => on(k) != off(k)) == Set("spark.sql.adaptive.enabled"))
    }
  }

  test("the shared test session carries Verify's profile at 4 cores") {
    for ((k, v) <- Sessions.settings(4, aqe = true))
      assert(TestSpark.spark.conf.get(k) == v, s"$k in the live test session")
  }
}
