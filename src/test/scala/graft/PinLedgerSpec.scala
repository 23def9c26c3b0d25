package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.functions.max

import graft.model.Stage
import graft.ops.Dedup

/** The round-12 leak class — a [[Stage.pin]] whose localCheckpoint
  * blocks outlive their last read, squeezing unified memory for every
  * later query in the JVM — was found by bench archaeology (same-binary
  * A/B + bisect). This spec makes that class fail HERE instead: every
  * driver query must end its terminal action with no RDD left persisted
  * beyond the ones its returned frame still lazily reads, and the
  * [[Stage.scoped]] ownership rule behind that is pinned case by case. */
class PinLedgerSpec extends SparkSpec {

  /** RDD ids `body` left persisted that its result does not read. */
  private def leakedBy(body: => Any): Set[Int] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val result = body
    sc.getPersistentRDDs.keySet.toSet -- before -- Stage.rddIdsOf(result)
  }

  private def persisted(id: Int): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(id)

  private def chain(n: Int) = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, i.toLong + 1)).toDF("doc_a", "doc_b")
  }

  /** Force connectedComponents' distributed loop (no union-find gate). */
  private def withLoop[A](body: => A): A = {
    spark.conf.set(Dedup.DriverEdgesKey, "0")
    try body finally spark.conf.unset(Dedup.DriverEdgesKey)
  }

  test("every driver query releases its dead pins " +
      "(all SparkEntry.queries, no conf)") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val leaked = leakedBy {
          val df = fn(spark, Sf0001)
          df.count() // the terminal action the driver/bench runs
          df
        }
        if (leaked.isEmpty) None
        else Some(s"$name left ${leaked.size} RDD(s) persisted: " +
          leaked.toSeq.sorted.flatMap(spark.sparkContext.getPersistentRDDs.get)
            .mkString("; "))
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("a pin made outside any scope is flagged; " +
      "inside Stage.scoped it is released") {
    import spark.implicits._
    // the r12 defect shape: a build step pins, acts, and forgets
    val leaked = leakedBy(Stage.pin((1 to 100).toDF("v")).count())
    try assert(leaked.size == 1, s"the dead pin must surface: $leaked")
    finally leaked.foreach(spark.sparkContext.getPersistentRDDs(_).unpersist())
    // the same build step inside a scope
    assert(leakedBy(Stage.scoped(Stage.pin((1 to 100).toDF("v")).count()))
      .isEmpty)
  }

  test("a scope returning a frame derived from a pin keeps that pin's " +
      "blocks") {
    import spark.implicits._
    var id = -1
    val derived = Stage.scoped {
      val pinned = Stage.pin((1 to 50).toDF("v"))
      id = Stage.rddIdsOf(pinned).head
      pinned.filter($"v" > 10).select(($"v" * 2).as("w"))
    }
    assert(persisted(id), "the returned frame still reads the pin")
    assert(derived.count() == 40)
  }

  test("a pin referenced only inside a scalar subquery survives scope exit") {
    import spark.implicits._
    var id = -1
    val out = Stage.scoped {
      val pinned = Stage.pin((1 to 10).toDF("v"))
      id = Stage.rddIdsOf(pinned).head
      spark.range(3).toDF("id").withColumn("m", pinned.agg(max($"v")).scalar())
    }
    assert(persisted(id), "the subquery still reads the pin")
    assert(out.as[(Long, Int)].collect().toSeq ==
      Seq((0L, 10), (1L, 10), (2L, 10)))
  }

  test("the maxRounds guard leaves no persisted RDD behind after it throws") {
    val leaked = leakedBy(withLoop(intercept[IllegalStateException](
      Dedup.connectedComponents(spark, chain(100), maxRounds = 2))))
    assert(leaked.isEmpty, s"pins left behind by the failed loop: $leaked")
  }

  test("the CC loop step releases the replaced labels each round") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // live pins sampled at every job boundary: the pair list, the labels,
    // and one round's propagate + next generation — never more
    val peak = new AtomicInteger(0)
    def sample(): Unit = {
      val live = (sc.getPersistentRDDs.keySet -- before).size
      peak.accumulateAndGet(live, math.max)
      ()
    }
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = sample()
      override def onJobEnd(e: SparkListenerJobEnd): Unit = sample()
    }
    sc.addSparkListener(listener)
    try withLoop(Dedup.connectedComponents(spark, chain(100)).count())
    finally sc.removeSparkListener(listener)
    assert(Dedup.lastCcRounds.get >= 4, "the loop must run several rounds")
    assert(peak.get >= 2, "the sampler must have seen the loop's pins")
    assert(peak.get <= 4,
      s"${peak.get} pins live at once: replaced generations were parked")
  }

  test("clear deletes the app subtree") {
    val scratch = java.nio.file.Files
      .createTempDirectory("graft_stage_clr").toString
    spark.conf.set(Stage.DirKey, scratch)
    try {
      import spark.implicits._
      Stage.pin((1 to 10).toDF("v")).count()
      val appDir = new java.io.File(scratch,
        s"app-${spark.sparkContext.applicationId}")
      assert(appDir.exists())
      Stage.clear(spark)
      assert(!appDir.exists())
    } finally spark.conf.unset(Stage.DirKey)
  }
}
