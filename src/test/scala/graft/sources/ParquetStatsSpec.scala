package graft.sources

import java.nio.file.{Files, Path}

import graft.SparkSpec

/** [[ParquetStats.read]]'s schema memo keys on a FILE's length and mtime;
  * a directory's own stat does not move when a part file inside it is
  * rewritten, so a directory must never be served a memoized schema. */
class ParquetStatsSpec extends SparkSpec {

  /** The single part file of a one-partition parquet write of `sql`. */
  private def partFile(sql: String): Path = {
    val out = Files.createTempDirectory("graft_pq_src").resolve("t")
    spark.sql(sql).coalesce(1).write.parquet(out.toString)
    val parts = out.toFile.listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts.length == 1)
    parts.head.toPath
  }

  test("a directory whose part file is rewritten in place with a new " +
      "column re-infers its schema") {
    val dir = Files.createTempDirectory("graft_pq_dir")
    val part = dir.resolve("part-00000.parquet")
    Files.write(part, Files.readAllBytes(partFile("SELECT 1 AS a")))
    assert(ParquetStats.read(spark, dir.toString).columns.toSeq == Seq("a"))
    // same file name, truncated and rewritten: no directory entry moves,
    // and the directory's mtime is put back so its stat is unchanged
    val dirMtime = Files.getLastModifiedTime(dir)
    Files.write(part, Files.readAllBytes(partFile("SELECT 1 AS a, 2 AS b")))
    Files.setLastModifiedTime(dir, dirMtime)
    val df = ParquetStats.read(spark, dir.toString)
    assert(df.columns.toSeq == Seq("a", "b"),
      "a directory read must re-infer, never serve the memoized schema")
    assert(df.collect().map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      Seq((1, 2)))
  }
}
