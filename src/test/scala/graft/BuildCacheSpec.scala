package graft.model

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, LocalFileSystem, Path}

import graft.SparkSpec
import graft.ops.{AnnIdentity, IncrementalDedup}

/** The local filesystem, except that committing a steady dedup store (a
  * rename onto a `store_*` directory) fails the way an IO error does:
  * `rename` returns false. Installed per session as `fs.file.impl`. */
class StoreCommitRefusingFs extends LocalFileSystem {
  override def rename(src: Path, dst: Path): Boolean =
    !dst.getName.startsWith("store_") && super.rename(src, dst)
}

/** Prints the recipe hashes every persistent cache key embeds, one
  * `hash:<name>=<value>` line each, from a fresh JVM. Identity hashes
  * come from a per-thread pseudo-random sequence, so two JVMs that start
  * alike assign alike. So the child first runs a query (which hashes
  * objects on executor threads too), then computes the hashes on a
  * fresh thread that first draws as many identity hashes as the second
  * argument says: each child hands the objects the plans touch
  * different ones. */
object RecipeHashProbe {
  def hashes(spark: org.apache.spark.sql.SparkSession,
      dir: String): Map[String, String] = Map(
    "ann_ivf" -> AnnIdentity.ivfRecipeHash(spark),
    "ann_pq" -> AnnIdentity.pqRecipeHash(spark),
    "ann_int8" -> AnnIdentity.int8RecipeHash(spark),
    "ann_lsh" -> AnnIdentity.lshRecipeHash(spark),
    "dq_trio" -> graft.quality.SilverStage.recipeHash(spark, dir),
    "dedup_steady" -> IncrementalDedup.steadyRecipeHash(spark))

  def main(args: Array[String]): Unit = {
    val spark = graft.Session.builder(1)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_probe_wh").toString)
      .getOrCreate()
    graft.ops.Similarity.annTopK(spark, args(0)).count()
    var got = Map.empty[String, String]
    val t = new Thread(() => {
      (1 to args(1).toInt).foreach(_ => System.identityHashCode(new Object))
      got = hashes(spark, args(0))
    })
    t.start(); t.join()
    try got.toSeq.sorted.foreach { case (k, v) => println(s"hash:$k=$v") }
    finally spark.stop()
  }
}

/** The one build-once cache protocol ([[BuildCache]]): the commit's
  * lost-race policy, a failed commit that surfaces instead of reading as
  * an empty entry, and recipe hashes that every JVM computes alike. */
class BuildCacheSpec extends SparkSpec {

  private def tempRoot(prefix: String): (FileSystem, String) = {
    val root = java.nio.file.Files.createTempDirectory(prefix).toString
    (BuildCache.fs(spark, root), root)
  }

  private def mkDir(fs: FileSystem, root: String, name: String,
      file: String): Path = {
    val d = new Path(s"$root/$name")
    fs.mkdirs(d)
    val out = fs.create(new Path(d, file))
    out.write(Array.tabulate[Byte](16)(i => (i * 7 + name.length).toByte))
    out.close()
    d
  }

  private def bytesUnder(fs: FileSystem, d: Path): Map[String, Seq[Byte]] =
    fs.listStatus(d).toSeq.map { st =>
      val in = fs.open(st.getPath)
      try st.getPath.getName -> in.readAllBytes().toSeq finally in.close()
    }.toMap

  private def refusingRename(fs: FileSystem)(onRename: => Unit) =
    new FilterFileSystem(fs) {
      override def rename(src: Path, dst: Path): Boolean = {
        onRename; false
      }
    }

  test("a lost cold-build race never nests the loser inside the winning index") {
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_race").toString
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def mkTable(name: String, file: String): org.apache.hadoop.fs.Path = {
      val d = new org.apache.hadoop.fs.Path(s"$root/$name")
      fs.mkdirs(d)
      val out = fs.create(new org.apache.hadoop.fs.Path(d, file))
      out.write(Array.fill[Byte](16)(1)); out.close()
      d
    }
    // winner already in place (non-empty directory): on RawLocalFileSystem
    // a bare fs.rename here degrades to FileUtil.copy, which would nest
    // the loser INSIDE the winner and report success — exactly the
    // corruption the commit exists to prevent
    val dst = mkTable("idx", "winner.parquet")
    val src = mkTable("idx_bdeadbeef", "loser.parquet")
    assert(!BuildCache.commit(fs, src, dst), "existing dst = lost race")
    assert(!fs.exists(src), "the losing staging table is dropped")
    assert(fs.exists(new org.apache.hadoop.fs.Path(dst, "winner.parquet")),
      "the winning index is untouched")
    assert(fs.listStatus(dst).length == 1,
      "nothing nested inside the winning index directory")
    // clean-path promotion still renames into place
    val src2 = mkTable("idx2_b01234567", "data.parquet")
    val dst2 = new org.apache.hadoop.fs.Path(s"$root/idx2")
    assert(BuildCache.commit(fs, src2, dst2))
    assert(fs.exists(new org.apache.hadoop.fs.Path(dst2, "data.parquet")))
    assert(!fs.exists(src2))
  }

  test("a failed commit with no winner in place throws, naming both paths") {
    val (fs, root) = tempRoot("graft_commit_fail")
    val staging = mkDir(fs, root, s"${BuildCache.Staging}/0123abcd", "part")
    val dst = new Path(s"$root/entry")
    val e = intercept[java.io.IOException](
      BuildCache.commit(refusingRename(fs)(()), staging, dst))
    assert(e.getMessage.contains(staging.toString) &&
      e.getMessage.contains(dst.toString), e.getMessage)
    assert(!fs.exists(dst), "nothing was committed")
  }

  test("a failed commit with a winner in place returns false, leaves the " +
      "winner byte-identical and drops the staging dir") {
    val (fs, root) = tempRoot("graft_commit_lost")
    val dst = new Path(s"$root/entry")
    // the winner is in place before the commit starts ...
    val winner = mkDir(fs, root, "entry", "winner.parquet")
    val before = bytesUnder(fs, winner)
    val staging = mkDir(fs, root, s"${BuildCache.Staging}/a1", "loser.parquet")
    assert(!BuildCache.commit(refusingRename(fs)(()), staging, dst))
    assert(bytesUnder(fs, dst) == before && !fs.exists(staging))
    // ... or lands between the exists check and the failed rename
    val dst2 = new Path(s"$root/entry2")
    val racer = mkDir(fs, root, "racer", "winner.parquet")
    val racerBytes = bytesUnder(fs, racer)
    val staging2 = mkDir(fs, root, s"${BuildCache.Staging}/b2", "loser.parquet")
    assert(!BuildCache.commit(
      refusingRename(fs)(assert(fs.rename(racer, dst2))), staging2, dst2))
    assert(bytesUnder(fs, dst2) == racerBytes && !fs.exists(staging2))
  }

  test("a failed steady-store commit throws instead of yielding a zero " +
      "receipt") {
    val s = spark.newSession()
    s.conf.set("fs.file.impl", classOf[StoreCommitRefusingFs].getName)
    s.conf.set("fs.file.impl.disable.cache", "true")
    s.conf.set(IncrementalDedup.SteadyRootKey,
      java.nio.file.Files.createTempDirectory("graft_steady_fail").toString)
    val builds = IncrementalDedup.steadyBuilds.get
    val e = intercept[java.io.IOException](
      graft.pipeline.Forget.takedownSteady(s, Sf0001).collect())
    assert(e.getMessage.contains("store_"), e.getMessage)
    assert(IncrementalDedup.steadyBuilds.get == builds)
  }

  test("recipe hashes are JVM-stable: child JVMs compute the in-process " +
      "values") {
    val expected = RecipeHashProbe.hashes(spark, Sf0001)
    val javaBin = s"${sys.props("java.home")}/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq.filterNot(_.startsWith("-Xmx"))
    // a commutative operand order that depends on identity hashes is a
    // coin toss per JVM, so one child proves little; three, each with a
    // different identity-hash sequence, run one after another to keep
    // memory small
    Seq(1299709, 2750159, 15485863).zipWithIndex.foreach { case (draws, i) =>
      val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("-Xmx1g", "-cp",
        sys.props("java.class.path"), RecipeHashProbe.getClass.getName
          .stripSuffix("$"), Sf0001, draws.toString)
      val p = new ProcessBuilder(cmd.asJava)
        .redirectError(ProcessBuilder.Redirect.DISCARD).start()
      val out = scala.io.Source.fromInputStream(p.getInputStream, "UTF-8")
        .getLines().toList
      assert(p.waitFor(300, java.util.concurrent.TimeUnit.SECONDS) &&
        p.exitValue() == 0, s"child JVM $i failed: ${out.mkString("\n")}")
      val got = out.collect { case l if l.startsWith("hash:") =>
        val Array(k, v) = l.stripPrefix("hash:").split("=", 2); k -> v
      }.toMap
      assert(got == expected, s"child JVM $i")
    }
  }
}
