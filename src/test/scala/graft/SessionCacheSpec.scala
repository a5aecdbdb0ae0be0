package graft

import org.scalatest.funsuite.AnyFunSuite

/** The scratch-dir owner: one memoized value per (session, fixture
  * dir), each under its own `graft_<kind>_…` path in `java.io.tmpdir`. */
class SessionCacheSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("an artifact is built once per (session, dir); another dir or session gets its own path") {
    val artifact = new SessionCache.ArtifactDir("cache_spec")
    var builds = 0
    def get(s: org.apache.spark.sql.SparkSession, d: String): String =
      artifact(s, d) { _ => builds += 1 }
    val p1 = get(spark, "/fixture/a")
    assert(get(spark, "/fixture/a") eq p1)
    assert(builds == 1)
    val p2 = get(spark, "/fixture/b")
    val p3 = get(spark.newSession(), "/fixture/a")
    assert(Set(p1, p2, p3).size == 3)
    assert(builds == 3)
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir")).getCanonicalPath
    Seq(p1, p2, p3).foreach { p =>
      val f = new java.io.File(p)
      assert(f.getParentFile.getCanonicalPath == tmp && f.getName.startsWith("graft_cache_spec_"), p)
    }
  }
}
