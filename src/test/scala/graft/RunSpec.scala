package graft

import org.apache.spark.sql.GraftRunAccess
import org.apache.spark.sql.functions.{lit, raise_error}

class RunSpec extends GraftSuite {

  test("RunRecord: q1_pricing_summary's wall is construction plus forcing, and every job ran") {
    val rec = Registry.byName("q1_pricing_summary").execute(spark, sfDir)
    assert(rec.constructS + rec.forceS === rec.wallS)
    assert(rec.constructS >= 0 && rec.forceS > 0)
    assert(rec.jobs >= 1, rec.line)
    assert(rec.constructJobs <= rec.jobs, rec.line)
    assert(rec.stages >= rec.jobs, rec.line)
    assert(rec.tasks >= rec.stages, rec.line)
    assert(rec.executions >= 1, rec.line)
    assert(rec.taskMaxS <= rec.runS, rec.line)
    assert(rec.json.startsWith("{\"constructS\":") && rec.json.contains("\"wallS\":"))
  }

  test("Run.measure: an eager action in the build counts as a construction job") {
    val (n, rec) = Run.measure(spark)(spark.range(10).count())(identity)
    assert(n === 10L)
    assert(rec.jobs === rec.constructJobs && rec.constructJobs >= 1, rec.line)
  }

  test("execute rethrows a failing query and leaves no listener or job tag behind") {
    val sc = spark.sparkContext
    val listeners = GraftRunAccess.listenerCount(sc)
    val tags = sc.getJobTags()
    val failsForcing = QueryDef.rowsOnly("fails_forcing")((s, _) =>
      s.range(3).select(raise_error(lit("boom while forcing"))))
    val failsBuilding = QueryDef.rowsOnly("fails_building")((_, _) =>
      throw new IllegalStateException("boom while building"))
    val e1 = intercept[Exception](failsForcing.execute(spark, sfDir))
    assert(e1.getMessage.contains("boom while forcing"))
    val e2 = intercept[IllegalStateException](failsBuilding.execute(spark, sfDir))
    assert(e2.getMessage === "boom while building")
    assert(GraftRunAccess.listenerCount(sc) === listeners)
    assert(sc.getJobTags() === tags)
  }
}
