package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Guards the one configuration surface: every `spark.graft.*` key the
  * engine reads is documented in the README's Configuration table (and
  * every documented key is still read), sessions are built only by
  * [[Session]] or the frozen driver mains, and pins are made and released
  * only by [[graft.model.Stage]]. */
class ConfigKeysSpec extends SparkSpec {

  private lazy val mainSources: Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get("src/main"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  // a whole key literal, closing quote included: a key=value example
  // string such as "spark.graft.x=false" names no key the engine reads
  private val KeyLiteral = """"(spark\.graft\.[A-Za-z0-9_.]*[A-Za-z0-9_])"""".r

  test("every spark.graft.* key in src/main is in the README " +
      "Configuration table, and every table key is read") {
    val inCode = mainSources.flatMap { case (_, src) =>
      KeyLiteral.findAllMatchIn(src).map(_.group(1)) }.toSet
    val readme = new String(Files.readAllBytes(Paths.get("README.md")), "UTF-8")
    val section = readme.split("\n## ").find(_.startsWith("Configuration"))
    assert(section.isDefined, "README has no Configuration section")
    val inTable = """(?m)^\| `(spark\.graft\.[^`]+)` \|""".r
      .findAllMatchIn(section.get).map(_.group(1)).toSet
    assert(inCode.nonEmpty)
    assert((inCode -- inTable).isEmpty,
      s"keys read but not documented: ${(inCode -- inTable).toSeq.sorted}")
    assert((inTable -- inCode).isEmpty,
      s"documented keys no longer read: ${(inTable -- inCode).toSeq.sorted}")
  }

  test("SparkSession.builder() appears only in graft.Session, Bench " +
      "and Verify") {
    val builders = mainSources.collect {
      case (p, src) if src.contains("SparkSession.builder()") =>
        Paths.get("src/main/scala/graft").relativize(p).toString
    }.toSet
    assert(builders == Set("Session.scala", "Bench.scala", "Verify.scala"))
  }

  test("pins are made and released only in model/Stage.scala") {
    val banned = Seq("unpersist(", "localCheckpoint(", ".checkpoint()",
      "Stage.unpin")
    val hits = mainSources.flatMap { case (p, src) =>
      if (p.endsWith("model/Stage.scala")) Nil
      else banned.filter(src.contains).map(b => s"$p: $b")
    }
    assert(hits.isEmpty, "hand-placed pin handling outside Stage (own the " +
      s"pin with Stage.scoped instead): ${hits.mkString("; ")}")
  }
}
