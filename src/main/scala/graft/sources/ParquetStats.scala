package graft.sources

import org.apache.spark.sql.SparkSession

/** Driver-side parquet metadata lookups.
  *
  * Parquet footers carry exact per-row-group row counts, so a table's
  * cardinality is available from a metadata read — the same cost class as
  * planning the scan (file listing + footer fetch), NOT a Spark job. At
  * 100 TB, "count the table" as an action is a full job over every split;
  * the footer read is what a catalog with fresh statistics would answer
  * from memory. Operators that need N to size a parameter (e.g. the
  * banded-LSH plane count in [[graft.ops.Similarity.cosineNearDup]]) use
  * this, with `count()` only as an explicit last resort.
  */
object ParquetStats {

  /** JVM-wide schema memo for [[read]]: (path, file length, mtime,
    * nanosAsLong) → inferred schema. Metadata only — never rows. */
  private val schemaCache = scala.collection.concurrent.TrieMap
    .empty[(String, Long, Long, Boolean), org.apache.spark.sql.types.StructType]

  /** `spark.read.parquet(path)` with the SCHEMA-INFERENCE JOB memoized:
    * a bare parquet read runs a footer-reading Spark job per call to
    * infer the schema, and the suite's source tables are re-opened by
    * every query — ~30–100 ms × (tables per query) × (173 queries) of
    * pure metadata chatter (r16 probe: a `[1st/1t] parquet at
    * TextOps.scala:30` job in almost every row). The memo key carries
    * the file's length + mtime (a rewritten file re-infers) and the
    * session's nanosAsLong setting (it changes how TIMESTAMP(NANOS)
    * columns surface). Intended for the immutable SOURCE tables; stores
    * and caches that rewrite in place keep their bare reads. Only a
    * single FILE is memoized: a directory's length and mtime do not move
    * when a part file inside it is rewritten in place, so a directory
    * takes the plain read, as does a path that cannot be stat'ed
    * (missing file — same error surface as before, raised by the read
    * itself). */
  def read(spark: SparkSession, path: String): org.apache.spark.sql.DataFrame = {
    // kill switch for A/B probes: spark.graft.schema.memo=false
    if (spark.conf.getOption("spark.graft.schema.memo").contains("false"))
      return spark.read.parquet(path)
    val nanos = spark.conf
      .getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true")
    val key =
      try {
        val p = new org.apache.hadoop.fs.Path(path)
        val st = p.getFileSystem(spark.sessionState.newHadoopConf())
          .getFileStatus(p)
        if (st.isFile) Some((path, st.getLen, st.getModificationTime, nanos))
        else None
      } catch { case scala.util.control.NonFatal(_) => None }
    key match {
      case Some(k) =>
        val schema = schemaCache.getOrElseUpdate(k,
          spark.read.parquet(path).schema)
        spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** Total row count of the parquet file or directory at `path`, summed
    * from file footers. Directories are walked recursively (skipping
    * `_`/`.`-prefixed metadata names), so partitioned layouts
    * (`year=2001/part-*.parquet`) are sized from footers too instead of
    * silently falling back to a full count() job. None if the path is
    * missing, contains no parquet files, or any footer is unreadable
    * (callers fall back to count()). */
  def rowCount(spark: SparkSession, path: String): Option[Long] = {
    try {
      val conf = spark.sessionState.newHadoopConf()
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) return None
      def walk(st: org.apache.hadoop.fs.FileStatus): Seq[org.apache.hadoop.fs.Path] = {
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Seq.empty
        else if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk)
        else if (n.endsWith(".parquet")) Seq(st.getPath)
        else Seq.empty
      }
      val files =
        if (fs.getFileStatus(p).isDirectory) fs.listStatus(p).toSeq.flatMap(walk)
        else Seq(p)
      if (files.isEmpty) None
      else Some(files.map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum)
    } catch { case scala.util.control.NonFatal(_) => None }
  }
}
