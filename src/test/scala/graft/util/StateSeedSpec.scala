package graft.util

import graft.{GraftConf, SparkSpec}

class StateSeedSpec extends SparkSpec {

  private def withSeeding[T](on: Boolean)(body: => T): T =
    withConf(GraftConf.SeedState -> on.toString)(body)

  test("disabled: every call builds a fresh root") {
    withSeeding(on = false) {
      var builds = 0
      val r1 = StateSeed.root(spark, "seedspec_fresh", "/sf")(_ => builds += 1)
      val r2 = StateSeed.root(spark, "seedspec_fresh", "/sf")(_ => builds += 1)
      assert(builds == 2)
      assert(r1 != r2, "fresh mode must not share state roots")
    }
  }

  test("enabled: one build per (tag, sfDir), distinct dirs keyed apart") {
    withSeeding(on = true) {
      var builds = 0
      val r1 = StateSeed.root(spark, "seedspec_cached", "/sfA")(_ => builds += 1)
      val r2 = StateSeed.root(spark, "seedspec_cached", "/sfA")(_ => builds += 1)
      val r3 = StateSeed.root(spark, "seedspec_cached", "/sfB")(_ => builds += 1)
      assert(builds == 2, "same (tag, dir) must reuse; a new dir must rebuild")
      assert(r1 == r2)
      assert(r3 != r1)
    }
  }
}
