package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.StatsBridge

/** Pins the r21 exact-boundary-statistics optimization
  * ([[StatsBridge.withExactSize]] + the `ChkScope.chk` wiring): an eager
  * localCheckpoint boundary hands the planner its TRUE materialized size
  * instead of the origin plan's compounding estimate, so downstream
  * broadcast decisions are made at plan time — and NOTHING else moves
  * (rows, schema, partitioning).
  */
class StatsBridgeSpec extends SparkSpec {

  /** A frame whose ORIGIN estimate is badly inflated (self-join size
    * estimates compound multiplicatively) but whose true row count is
    * tiny — the composed-chain boundary shape that forced SortMergeJoins.
    */
  private def inflatedTinyFrame(): DataFrame = {
    val base = spark.range(0, 20000)
      .select(col("id"), (col("id") % 100).as("k"))
    // the tiny filter must NOT constrain the downstream join key (id):
    // constraint propagation would push it onto the other join side and
    // shrink THAT side's estimate, hiding the defect being pinned
    base.join(base.select(col("k"), col("id").as("id2")), Seq("k"))
      .filter(col("id2") < 3)
      .select(col("id"), col("id2"), col("k"))
  }

  test("withExactSize: an eager-checkpoint boundary carries its true " +
      "materialized block-manager size; rows and schema are untouched") {
    val df = inflatedTinyFrame()
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val thresholdB = BigInt(spark.conf
      .get("spark.sql.autoBroadcastJoinThreshold").replace("b", ""))
    assert(est > thresholdB,
      s"test precondition lost: origin estimate $est is no longer " +
        "inflated past the broadcast threshold — rebuild the fixture")
    val chk = df.localCheckpoint(true)
    val fixed = StatsBridge.withExactSize(chk)
    val bytes = StatsBridge.materializedBytes(chk)
    assert(bytes.nonEmpty, "eager checkpoint left no stored blocks")
    val s = fixed.queryExecution.optimizedPlan.stats
    assert(s.sizeInBytes == BigInt(bytes.get),
      s"carried stat ${s.sizeInBytes} != block-manager bytes $bytes")
    assert(s.sizeInBytes < thresholdB,
      "the tiny frame's exact size should sit under the broadcast " +
        s"threshold (got ${s.sizeInBytes})")
    assert(fixed.schema == chk.schema, "schema moved")
    assert(fixed.collect().map(_.toSeq.toList).sortBy(_.toString).toSeq ==
      chk.collect().map(_.toSeq.toList).sortBy(_.toString).toSeq,
      "rows moved — stats rewrap must be content-transparent")
    chk.unpersist(true)
    ()
  }

  test("withExactSize: the downstream join over an exact-stats boundary " +
      "plans BroadcastHashJoin at PLAN time (the estimate-carrying form " +
      "sort-merges)") {
    // the big side must itself sit OVER the broadcast threshold, or the
    // planner broadcasts it and the contrast is vacuous
    val big = spark.range(0, 5000000)
      .select(col("id"), (col("id") * 2).as("v"))
    val chk = inflatedTinyFrame().localCheckpoint(true)
    def strategies(df: DataFrame): String =
      df.queryExecution.executedPlan.toString()
    val before = strategies(big.join(chk, Seq("id")))
    val after = strategies(big.join(StatsBridge.withExactSize(chk), Seq("id")))
    assert(before.contains("SortMergeJoin"),
      "precondition lost: the inflated-estimate boundary no longer " +
        "plans a sort-merge join — the fixture stopped demonstrating " +
        "the defect")
    assert(after.contains("BroadcastHashJoin") &&
      !after.contains("SortMergeJoin"),
      s"exact-stats boundary should broadcast at plan time; got:\n$after")
    chk.unpersist(true)
    ()
  }

  test("withExactSize: non-boundary frames and unmaterialized " +
      "checkpoints pass through unchanged") {
    val plain = spark.range(0, 10).toDF("id")
    assert(StatsBridge.withExactSize(plain) eq plain,
      "a non-LogicalRDD frame must be returned as-is")
    // a LogicalRDD whose blocks are gone has no stored size — the
    // rewrap must decline rather than invent a zero. (Dataset.unpersist
    // does NOT release a localCheckpoint's RDD blocks; the underlying
    // RDD must be unpersisted, the ChkScope.release discipline.)
    val chk = spark.range(0, 10).toDF("id").localCheckpoint(true)
    chk.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = true)
      case other => fail(s"expected a LogicalRDD boundary, got $other")
    }
    assert(StatsBridge.materializedBytes(chk).isEmpty,
      "released blocks must not report a materialized size")
    assert(StatsBridge.withExactSize(chk) eq chk,
      "a boundary with no stored blocks must be returned as-is")
  }
}
