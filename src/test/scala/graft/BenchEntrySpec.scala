package graft

/** The bench registry and its force: every headline entry resolvable by
  * name (the tools time single entries through it), unknown names fail
  * loudly, and `Bench.force` times the full output — its row count is
  * the frame's, and its plan keeps the join a `count()` may prune. */
class BenchEntrySpec extends SparkSpec {
  test("entryFor resolves every headline entry and rejects unknowns") {
    val names = Bench.headline.map(_._1)
    assert(names.distinct === names, "registry names must be unique")
    names.foreach(n => assert(Bench.entryFor(n) != null, n))
    val e = intercept[IllegalArgumentException] {
      Bench.entryFor("no_such_entry")
    }
    assert(e.getMessage.contains("no_such_entry"))
  }

  test("force returns the frame's row count from its one noop write, join kept") {
    val df = Bench.entryFor("b4_distance_join_grid")(spark, sf())
    val want = df.collect().length
    assert(want > 0)
    var rows = -1L
    val (_, plans) = withBuildPlans { rows = Bench.force(df) }
    assert(rows === want)
    assert(plans.size === 1, s"one write action, no second job: $plans")
    assert(plans.head.contains("Join"), s"the forced plan lost the join: ${plans.head}")
  }
}
