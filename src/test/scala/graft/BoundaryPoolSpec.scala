package graft

import java.util.concurrent.TimeoutException
import java.util.concurrent.atomic.AtomicInteger

/** Pins [[Boundaries]]: the boundary-pool hardening (r20 verdict #7 +
  * ADVICE) — the concurrent group await is FINITE and rethrows naming
  * the group, a nested parallel group degrades to serial instead of
  * deadlocking the fixed 4-thread pool, every pooled job carries its
  * caller's local properties — and that no other main source makes a
  * stage boundary.
  */
class BoundaryPoolSpec extends SparkSpec {

  test("runAll: a hung job surfaces as a TimeoutException naming the " +
      "group label, thrown from the submitting stack") {
    import scala.concurrent.duration._
    val ex = intercept[TimeoutException] {
      Boundaries.runAll(spark, Seq(
        () => Thread.sleep(5000),
        () => Thread.sleep(5000)
      ), label = "slow-census-group", timeout = 200.millis)
    }
    assert(ex.getMessage.contains("slow-census-group"),
      s"timeout message must name the group; got: ${ex.getMessage}")
  }

  test("runAll: nested parallel groups complete (pool re-entry degrades " +
      "to serial execution instead of deadlocking the 4-thread pool)") {
    import scala.concurrent.duration._
    val ran = new AtomicInteger()
    // 4 outer jobs occupy every pool thread; each nests another group.
    // Without the re-entry guard the inner awaits can never be served
    // and the outer await times out — the 30s bound keeps the failure
    // mode a test failure, not a hang.
    Boundaries.runAll(spark,
      (1 to 4).map { _ => () =>
        Boundaries.runAll(spark, Seq(
          () => { ran.incrementAndGet(); () },
          () => { ran.incrementAndGet(); () }
        ), label = "nested-inner")
      }, label = "nested-outer", timeout = 30.seconds)
    assert(ran.get() == 8, s"all nested jobs must run; got ${ran.get()}")
  }

  test("job group reaches every runAll job, call after call") {
    val sc = spark.sparkContext
    // more calls than pool threads, so later calls run on threads an
    // earlier call's group already ran on
    for (group <- Seq("pool-a", "pool-b", "pool-c")) {
      val seen = jobGroupsOf {
        sc.setJobGroup(group, group)
        try Boundaries.runAll(spark, (1 to 4).map { i => () =>
          sc.parallelize(1 to 10, 2).map(_ * i).count(); ()
        }) finally sc.clearJobGroup()
      }
      assert(seen.length == 4, s"$group: $seen")
      assert(seen.forall(_ == group), s"$group: ${seen.distinct}")
    }
  }

  test("stage boundaries are made and released only in Boundaries") {
    // every checkpoint, its exact-size stats and its release go through
    // Boundaries.scoped; a second hand-written copy would drift (a
    // different mode parse, a missed release on failure). The qualified
    // LogicalRDD name is banned so prose may still say "LogicalRDD".
    val banned = Seq("execution.LogicalRDD", "withExactSize(",
      "getCheckpointDir", "checkpoint(eager")
    val owner = "graft/Boundaries.scala"
    assert(MainSources.exists(owner))
    val hits = MainSources.strays(banned,
      f => f.startsWith("graft/") && f != owner)
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
