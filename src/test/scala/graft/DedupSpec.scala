package graft

import org.apache.spark.sql.functions._
import graft.ops.Dedup

/** Convergence guarantees of the connected-components iteration behind
  * duplicate-cluster assignment: O(log d) rounds on chain-shaped
  * components (pointer doubling), a hard round bound with a clear error,
  * and the durable stage-dir mode for executor-loss tolerance. */
class DedupSpec extends SparkSpec {

  private def chain(n: Int) = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, i.toLong + 1)).toDF("doc_a", "doc_b")
  }

  /** Force the distributed label-propagation loop: these tests pin ITS
    * behavior (round counts, maxRounds guard, pin backends); the
    * driver-side union-find gate would otherwise answer first. */
  private def withLoop[A](body: => A): A = {
    spark.conf.set(Dedup.DriverEdgesKey, "0")
    try body finally spark.conf.unset(Dedup.DriverEdgesKey)
  }

  test("driver-side union-find gate matches the distributed loop exactly") {
    import spark.implicits._
    val pairs = Seq((10L, 11L), (11L, 12L), (20L, 21L), (5L, 21L))
      .toDF("doc_a", "doc_b")
    val gated = Dedup.connectedComponents(spark, pairs)
      .collect().map(_.toSeq).toSet
    assert(Dedup.lastCcRounds.get == 0, "gate path must not run loop rounds")
    val looped = withLoop(Dedup.connectedComponents(spark, pairs))
      .collect().map(_.toSeq).toSet
    assert(Dedup.lastCcRounds.get > 0, "loop path must have run rounds")
    assert(gated == looped)
  }

  test("chain component (diameter 100) converges in O(log d) rounds, not O(d)") {
    val cc = withLoop(Dedup.connectedComponents(spark, chain(100))).collect()
    assert(cc.length == 101)
    assert(cc.forall(_.getLong(1) == 0L), "every node labels to the component min")
    assert(cc.forall(_.getLong(2) == 101L), "one component of size 101")
    val rounds = Dedup.lastCcRounds.get
    assert(rounds <= 10,
      s"pointer doubling must converge a diameter-100 chain in ~log2(100) " +
        s"rounds; took $rounds (plain propagation would take 100)")
  }

  test("two components stay separate; labels are the component minima") {
    import spark.implicits._
    val pairs = Seq((10L, 11L), (11L, 12L), (20L, 21L)).toDF("doc_a", "doc_b")
    val cc = withLoop(Dedup.connectedComponents(spark, pairs))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(cc == Map(
      10L -> (10L, 3L), 11L -> (10L, 3L), 12L -> (10L, 3L),
      20L -> (20L, 2L), 21L -> (20L, 2L)))
  }

  test("a caller's pinned pairs frame stays readable after " +
      "connectedComponents returns (gate and loop paths)") {
    graft.model.Stage.scoped {
      val pairs = graft.model.Stage.pin(chain(20))
      val before = pairs.collect().map(_.toSeq).toSet
      Dedup.connectedComponents(spark, pairs).collect()
      withLoop(Dedup.connectedComponents(spark, pairs).collect())
      assert(pairs.collect().map(_.toSeq).toSet == before,
        "connectedComponents must not release pins the caller owns")
    }
  }

  test("maxRounds guard fails fast with a clear error instead of looping") {
    val e = intercept[IllegalStateException] {
      withLoop(Dedup.connectedComponents(spark, chain(100), maxRounds = 2)
        .count())
    }
    assert(e.getMessage.contains("did not converge within 2 rounds"))
  }

  test("reliable-checkpoint mode produces identical clusters") {
    val local = withLoop(Dedup.connectedComponents(spark, chain(50))
      .collect().map(_.toSeq).toSet)
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_stage").toString
    spark.conf.set(graft.model.Stage.DirKey, dir)
    try {
      val reliable = withLoop(Dedup.connectedComponents(spark, chain(50))
        .collect().map(_.toSeq).toSet)
      assert(reliable == local)
      val app = new java.io.File(dir, s"app-${spark.sparkContext.applicationId}")
      assert(Option(app.listFiles()).exists(_.exists(_.getName.startsWith("stage-"))),
        "the loop's pins must be parquet stages under the stage dir")
    } finally {
      spark.conf.unset(graft.model.Stage.DirKey)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}
