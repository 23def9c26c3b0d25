package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.RangeRank

/** The distributed rank must be BIT-IDENTICAL to the window `row_number`
  * it replaces — grouped and global, rank and group count — and stable
  * across recomputation (the internal checkpoint pins the layout).
  *
  * The adaptive small-input gate ([[RangeRank.WindowBytesKey]]) is forced
  * OFF for the whole suite (threshold 0): sf0.001 inputs all sit under the
  * default threshold, and these tests exist to exercise the DISTRIBUTED
  * machinery. The gate itself gets its own equality test at the end. */
class RangeRankSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {

  override def beforeAll(): Unit =
    spark.conf.set(RangeRank.WindowBytesKey, "0")
  override def afterAll(): Unit =
    spark.conf.unset(RangeRank.WindowBytesKey)

  private def docs = spark.read.parquet(s"$Sf0001/documents.parquet")

  test("global rank == row_number over (score desc, id): bit-identical, " +
      "a permutation, with the exact total count") {
    val base = docs.select(col("doc_id"), length(col("text")).as("len"))
    val got = RangeRank.rank(base, Seq.empty,
        Seq(col("len").desc, col("doc_id")), "rk", Some("n"))
      .collect().map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Int]("rk"), r.getAs[Long]("n")))).toMap
    val want = base.withColumn("rk", row_number().over(
        Window.orderBy(col("len").desc, col("doc_id"))))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy()))
      .collect().map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Int]("rk"), r.getAs[Long]("n")))).toMap
    assert(got == want)
    assert(got.values.map(_._1).toSeq.sorted == (1 to got.size))
  }

  test("grouped rank == row_number over (group, order): bit-identical " +
      "ranks and per-group counts, every group a 1..n permutation") {
    val base = docs.select(col("doc_id"), col("lang"),
      length(col("text")).as("len"))
    val got = RangeRank.rank(base, Seq("lang"),
        Seq(col("len"), col("doc_id")), "rk", Some("n"))
      .collect().map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[String]("lang"), r.getAs[Int]("rk"), r.getAs[Long]("n"))))
      .toMap
    val w = Window.partitionBy("lang")
    val want = base
      .withColumn("rk", row_number().over(
        w.orderBy(col("len"), col("doc_id"))))
      .withColumn("n", count(lit(1)).over(w))
      .collect().map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[String]("lang"), r.getAs[Int]("rk"), r.getAs[Long]("n"))))
      .toMap
    assert(got == want)
    got.values.groupBy(_._1).foreach { case (lang, rows) =>
      val ranks = rows.map(_._2).toSeq.sorted
      assert(ranks == (1 to ranks.size), s"lang=$lang ranks not 1..n")
      assert(rows.forall(_._3 == rows.size.toLong), s"lang=$lang count")
    }
  }

  test("NULL group: ranks match the window form — a NULL group is its " +
      "own ordinary group, never silently dropped") {
    import spark.implicits._
    val base = Seq(
      (1L, Some("en"), 5), (2L, None, 3), (3L, None, 7),
      (4L, Some("de"), 1), (5L, None, 3))
      .toDF("id", "grp", "v")
      .select(col("id"), col("grp"), col("v"))
    val got = RangeRank.rank(base, Seq("grp"),
        Seq(col("v"), col("id")), "rk", Some("n"))
      .collect().map(r => (r.getAs[Long]("id"),
        (r.getAs[Int]("rk"), r.getAs[Long]("n")))).toMap
    val w = Window.partitionBy("grp")
    val want = base
      .withColumn("rk", row_number().over(w.orderBy(col("v"), col("id"))))
      .withColumn("n", count(lit(1)).over(w))
      .collect().map(r => (r.getAs[Long]("id"),
        (r.getAs[Int]("rk"), r.getAs[Long]("n")))).toMap
    assert(got.size == 5, "no row may vanish through the offsets join")
    assert(got == want)
  }

  test("cumSum == running sum window over (group, order): bit-identical, " +
      "including NULL groups") {
    import spark.implicits._
    val base = docs.select(col("doc_id"), col("lang"),
      length(col("text")).cast("long").as("v"))
      .unionByName(Seq((900001L, null.asInstanceOf[String], 7L))
        .toDF("doc_id", "lang", "v"))
    val got = graft.ops.RangeRank.cumSum(base, Seq("lang"),
        Seq(col("doc_id")), "v", "cum")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cum")))
      .toMap
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = base.withColumn("cum", sum(col("v")).over(w))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cum")))
      .toMap
    assert(got == want)
  }

  test("recomputation-stable: two independent rank() calls agree exactly " +
      "(the checkpoint pins partition layout — no boundary-resample drift)") {
    val base = docs.select(col("doc_id"), col("source"),
      length(col("text")).as("len"))
    def one() = RangeRank.rank(base, Seq("source"),
        Seq(col("len").desc, col("doc_id")), "rk")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("rk")))
      .toMap
    assert(one() == one())
  }

  test("cumSum rejects inexact value types: the offset decomposition " +
      "re-associates addition, which only integral/decimal survive") {
    val base = docs.select(col("doc_id"), col("lang"),
      (length(col("text")) * 0.5).as("v"))
    val e = intercept[IllegalArgumentException] {
      graft.ops.RangeRank.cumSum(base, Seq("lang"), Seq(col("doc_id")),
        "v", "cum")
    }
    assert(e.getMessage.contains("exact (integral/decimal)"))
  }

  test("reliable stage backend (spark.graft.stage.dir): rank and cumSum " +
      "bit-identical to the window forms through durable scratch parquet") {
    val scratch = java.nio.file.Files
      .createTempDirectory("graft_stage").toString
    spark.conf.set(graft.model.Stage.DirKey, scratch)
    try {
      val base = docs.select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("v"))
      val gotRk = RangeRank.rank(base, Seq("lang"),
          Seq(col("v").desc, col("doc_id")), "rk", Some("n"))
        .collect().map(r => (r.getAs[Long]("doc_id"),
          (r.getAs[Int]("rk"), r.getAs[Long]("n")))).toMap
      val w = Window.partitionBy("lang")
      val wantRk = base.withColumn("rk", row_number().over(
          w.orderBy(col("v").desc, col("doc_id"))))
        .withColumn("n", count(lit(1)).over(w))
        .collect().map(r => (r.getAs[Long]("doc_id"),
          (r.getAs[Int]("rk"), r.getAs[Long]("n")))).toMap
      assert(gotRk == wantRk)
      val gotCum = RangeRank.cumSum(base, Seq("lang"),
          Seq(col("doc_id")), "v", "cum")
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cum")))
        .toMap
      val wantCum = base.withColumn("cum", sum(col("v")).over(
          Window.partitionBy("lang").orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cum")))
        .toMap
      assert(gotCum == wantCum)
      // the reliable path was actually taken: stage directories exist on
      // the scratch filesystem under THIS application's subtree (this is
      // what survives an executor loss — downstream stages recompute from
      // these files instead of aborting on vanished executor-local
      // blocks)
      val appDir = new java.io.File(scratch,
        s"app-${spark.sparkContext.applicationId}")
      val staged = appDir.listFiles()
        .filter(_.getName.startsWith("stage-"))
      assert(staged.length >= 2, "every pin must write a durable stage")
      assert(staged.forall(d => new java.io.File(d, "_SUCCESS").exists()),
        "each stage is a completed parquet write")
      // recycling the scratch dir between runs is the caller's contract —
      // scoped to this app's subtree: another application's live stages
      // under the same shared scratch dir must survive our clear
      val other = new java.io.File(scratch, "app-other-application/stage-1")
      assert(other.mkdirs())
      graft.model.Stage.clear(spark)
      assert(!appDir.exists(), "clear removes this app's subtree")
      assert(other.exists(), "clear must not touch another app's stages")
    } finally spark.conf.unset(graft.model.Stage.DirKey)
  }

  test("a malformed window-bytes conf fails naming the conf key, not as " +
      "a bare NumberFormatException from inside query construction") {
    spark.conf.set(RangeRank.WindowBytesKey, "32mb")
    try {
      val e = intercept[IllegalArgumentException] {
        RangeRank.rank(docs.select(col("doc_id")), Seq.empty,
          Seq(col("doc_id")), "rk")
      }
      assert(e.getMessage.contains(RangeRank.WindowBytesKey))
      assert(e.getMessage.contains("32mb"))
    } finally spark.conf.set(RangeRank.WindowBytesKey, "0")
  }

  test("adaptive gate: default-threshold (window) and forced-distributed " +
      "outputs are identical — the gate is a pure physical-strategy pick") {
    val base = docs.select(col("doc_id"), col("lang"),
      length(col("text")).cast("long").as("v"))
    def rkOf() = RangeRank.rank(base, Seq("lang"),
        Seq(col("v").desc, col("doc_id")), "rk", Some("n"))
      .collect().map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Int]("rk"), r.getAs[Long]("n")))).toMap
    def cumOf() = RangeRank.cumSum(base, Seq("lang"),
        Seq(col("doc_id")), "v", "cum")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cum")))
      .toMap
    val (distRk, distCum) = (rkOf(), cumOf())   // suite-wide conf=0
    spark.conf.unset(RangeRank.WindowBytesKey)  // default 32 MB → window
    try {
      assert(rkOf() == distRk)
      assert(cumOf() == distCum)
      // and the small path really is windowed (no pin, no range stage)
      val p = RangeRank.rank(base, Seq("lang"), Seq(col("doc_id")), "rk")
        .queryExecution.executedPlan.toString
      // strict form (same as PlanSpec): the window operator must be
      // present AND the distributed machinery absent — a disjunction
      // would let a wrongly-distributed plan pass on one clause
      assert(p.contains("row_number") && !p.contains("_rr_pid"),
        s"default gate must pick the window form:\n$p")
    } finally spark.conf.set(RangeRank.WindowBytesKey, "0")
  }
}
