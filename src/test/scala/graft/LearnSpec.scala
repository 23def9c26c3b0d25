package graft

import java.lang.Double.doubleToRawLongBits

import graft.ops.{Learn, TextOps}

/** The learn family's driver-side gates: the sufficient-statistics
  * descent of [[Learn.logregQuality]] and the collected successor map of
  * [[TextOps.lmGreedyDecode]] must emit exactly what their distributed
  * loops emit (`gate = 0`), and must not pay a job per iteration. */
class LearnSpec extends SparkSpec {
  import spark.implicits._

  /** Jobs `body` starts, counted by a listener; the bus is drained before
    * reading (private[spark] compiles to a public method, so reflection
    * reaches `waitUntilEmpty`). */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    def drain(): Unit = { bus.getClass.getMethod("waitUntilEmpty").invoke(bus); () }
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    drain()
    sc.addSparkListener(listener)
    try {
      val out = body
      drain()
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def decode(dir: String, steps: Int, gate: Long) =
    TextOps.lmGreedyDecodeGated(spark, dir, steps, gate)
      .as[(Int, String)].collect().toSeq

  test("logreg: the driver descent over the sufficient table equals the " +
      "distributed loop bit for bit") {
    val driver = Learn.logregQuality(spark, Sf0001).head()
    val loop = Learn.logregQualityGated(spark, Sf0001, Learn.LogRegIters,
      Learn.LogRegLr, gate = 0).head()
    assert(driver.schema == loop.schema)
    assert(driver.getLong(0) == loop.getLong(0), "n_docs")
    assert(driver.getLong(1) == loop.getLong(1), "n_correct")
    (2 to 4).foreach { i =>
      assert(doubleToRawLongBits(driver.getDouble(i)) ==
        doubleToRawLongBits(loop.getDouble(i)),
        s"${driver.schema(i).name}: driver ${driver.getDouble(i)} vs " +
          s"loop ${loop.getDouble(i)}")
    }
  }

  test("lm decode: the collected successor map and the lookup loop emit " +
      "the same path, including a chain that halts early") {
    assert(decode(Sf0001, TextOps.LmDecodeSteps, TextOps.LmDriverTableRows) ==
      decode(Sf0001, TextOps.LmDecodeSteps, 0))
    val dir = java.nio.file.Files.createTempDirectory("graft_lm_halt").toString
    Seq((1L, "a b c")).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    // every token occurs once, so the seed is the smallest ("a"), and
    // "c" has no successor: the chain stops after two steps
    val halted = Seq((0, "a"), (1, "b"), (2, "c"))
    assert(decode(dir, 10, TextOps.LmDriverTableRows) == halted)
    assert(decode(dir, 10, 0) == halted)
  }

  test("learn jobs: model_logreg runs in at most 3 jobs and lm decoding's " +
      "job count does not grow with steps") {
    TextOps.documents(spark, Sf0001).schema // schema inference outside the count
    val (_, logreg) = jobsDuring(Learn.logregQuality(spark, Sf0001).collect())
    assert(logreg <= 3, s"model_logreg ran $logreg jobs")
    val (_, one) = jobsDuring(decode(Sf0001, 1, TextOps.LmDriverTableRows))
    val (_, ten) = jobsDuring(decode(Sf0001, 10, TextOps.LmDriverTableRows))
    assert(one == ten, s"decode ran $one jobs at 1 step but $ten at 10")
  }
}
