package graft

import java.nio.file.{Files, Paths}

/** [[Session]] is Bench's session, spelled once: its settings must be the
  * `.config(...)` literals of the frozen `Bench.scala`, and the shared test
  * session must actually carry them. */
class SessionSpec extends SparkSpec {

  private val benchSrc =
    new String(Files.readAllBytes(Paths.get("src/main/scala/graft/Bench.scala")),
      "UTF-8")

  test("graft.Session applies exactly Bench's .config settings") {
    val literals = """\.config\("([^"]+)",\s*"([^"]*)"\)""".r
      .findAllMatchIn(benchSrc).map(m => m.group(1) -> m.group(2)).toMap
    // Bench passes its core count as a variable, not a literal
    assert(benchSrc.contains(""".config("spark.sql.shuffle.partitions", cpus)"""))
    assert(benchSrc.contains(".master(s\"local[$cpus]\")"))
    assert(benchSrc.contains(".withExtensions(new graft.plans.GraftExtensions()(_))"))
    val recipe = Session.settings(7).toMap
    assert(recipe - "spark.sql.shuffle.partitions" == literals)
    assert(recipe("spark.sql.shuffle.partitions") == "7")
  }

  test("the shared test session is built from the recipe") {
    val conf = spark.sparkContext.getConf
    Session.settings(4).foreach { case (k, v) =>
      assert(conf.get(k) == v, s"$k")
    }
    assert(spark.sparkContext.master == "local[4]")
  }

  test("events reads require nanosAsLong, naming the key, and never " +
      "write the caller's session conf") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val shared = spark.conf.getAll
    val s = spark.newSession()
    s.conf.set(key, "false")
    val batch = intercept[IllegalArgumentException](
      graft.ops.Events.events(s, Sf0001))
    assert(batch.getMessage.contains(key))
    val stream = intercept[IllegalArgumentException](
      graft.streaming.StreamingOps.readEventsStream(s, Sf0001, Some("events*")))
    assert(stream.getMessage.contains(key))
    assert(s.conf.get(key) == "false", "the caller's setting is left alone")
    assert(spark.conf.getAll == shared, "the shared session is untouched")
  }
}
