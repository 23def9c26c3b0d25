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

  private def rel(p: Path): String =
    Paths.get("src/main/scala/graft").relativize(p).toString

  test("cache roots, staging paths and commits live only in the cache " +
      "module; graft.quality never reaches into graft.ops") {
    val cacheModule = "model/BuildCache.scala"
    // the conf -> system property -> default root pattern, a root key
    // literal, the commit primitive and the staging path conventions
    val rootPattern = """(?s)conf\.getOption\([^\n]*(?:\n[^\n]*){0,2}?sys\.props""".r
    val rootKey = """"spark\.graft\.[a-z.]*\.root"""".r
    val banned = Seq("renameIfAbsent", ".build_", ".staging/", "\".staging\"")
    val hits = mainSources.flatMap { case (p, src) =>
      if (rel(p) == cacheModule) Nil
      else banned.filter(src.contains).map(b => s"${rel(p)}: $b") ++
        rootPattern.findFirstIn(src).map(_ => s"${rel(p)}: conf/property root") ++
        rootKey.findFirstIn(src).map(k => s"${rel(p)}: $k")
    }
    assert(hits.isEmpty, "cache policy outside graft.model.BuildCache: " +
      hits.mkString("; "))
    val inverted = mainSources.collect {
      case (p, src) if rel(p).startsWith("quality/") &&
          """(?m)^\s*import graft\.ops\b""".r.findFirstIn(src).isDefined =>
        rel(p)
    }
    assert(inverted.isEmpty, s"graft.quality imports graft.ops: $inverted")
  }

  test("spark.conf.set appears only in Bench, Probe and the two " +
      "save-and-restore sites") {
    val allowed = Set("pipeline/Sinks.scala:overwritePartitions",
      "streaming/StreamingOps.scala:withStatePartitions")
    val def_ = """def\s+(\w+)""".r
    val sites = mainSources.flatMap { case (p, src) =>
      if (Set("Bench.scala", "Probe.scala")(rel(p))) Nil
      else """spark\.conf\.set\(""".r.findAllMatchIn(src).map { m =>
        // the enclosing definition: the last `def` before the call
        val enclosing = def_.findAllMatchIn(src.substring(0, m.start))
          .map(_.group(1)).toSeq.lastOption.getOrElse("")
        s"${rel(p)}:$enclosing"
      }
    }.toSet
    assert(sites == allowed, "session conf written outside the allowed " +
      s"sites: ${(sites -- allowed).toSeq.sorted}")
  }
}
