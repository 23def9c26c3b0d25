package graft.quality

import scala.math.BigDecimal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, ExprId}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Answer eligible data-quality checks from parquet FOOTER statistics —
  * the metadata every sink already wrote — instead of a row scan.
  *
  * At 100× the dq rows are the bench tail: check-count × pruned-scan
  * (SURVEY §20.5). But a `not_null` violation count is exactly the sum of
  * the column's per-row-group null counts, and a range-style check
  * (`within_range`, `not_empty_string`) is often PROVABLY zero from the
  * column's min/max — all sitting in the footers of the staged silver
  * pins and the raw source files, readable in the same cost class as
  * planning the scan (no job, no row reads). The full-scan path remains
  * both the fallback (stats missing, column derived, frame not
  * parquet-backed) and the oracle's semantics; a footer answer must be
  * bit-identical to what the scan would count, so this module only
  * answers when the statistics are EXACT for the question asked:
  *
  *  - `not_null`: sum of null counts, only when every row group of every
  *    file sets the statistic. Exact by definition.
  *  - `within_range(lo, hi)` (violating rows: non-null AND outside
  *    [lo, hi]): answered 0 when every row group's [min, max] ⊆ [lo, hi]
  *    (or the group is all-null). Parquet min/max bound the non-null
  *    values, so containment proves zero violations; anything else —
  *    including truncated or missing stats, NaN-suppressed stats — falls
  *    back to the scan because the COUNT of violators is not derivable.
  *  - `not_empty_string` (violating rows: non-null AND trim = ''): a
  *    violating value is empty or all-spaces, hence lexicographically
  *    `<` any string whose first byte exceeds 0x20. Answered 0 when
  *    every row group's binary MIN starts above 0x20 (a truncated min is
  *    still a valid lower bound, so the proof survives truncation).
  *  - `at_least_n_rows(n)` (violating rows: one iff count(*) < n): row
  *    counts are always present in footers — answered unconditionally.
  *
  * Column mapping: a check column is footer-resolvable when the frame's
  * analyzed plan is a chain of pure rename-projections
  * (`Alias(AttributeReference)` / bare attributes) over ONE unpartitioned
  * parquet relation — a table of the staged [[SilverStage]] trio
  * (identity map) or a bronze/raw rename of the source files. A Filter,
  * Join, Aggregate, or computed expression anywhere in the chain breaks
  * eligibility: the footer no longer describes the frame's rows.
  */
object FooterStats {

  /** Exact per-column footer statistics for one parquet-backed frame,
    * already remapped to the FRAME's column names. */
  final case class TableStats(
      rowCount: Long,
      cols: Map[String, ColStats])

  /** Aggregated over every row group of every data file.
    *  - `nullCount`: Some iff EVERY row group sets it.
    *  - `numRange`:  Some((min, max)) iff every row group with non-null
    *    values has numeric min/max stats (int/long/float/double, no
    *    logical reinterpretation); all-null groups don't contribute.
    *  - `strMinFirstByte`: first byte of the binary/UTF8 minimum, iff
    *    every row group with non-null values has a non-empty binary min.
    *  - `allNull`: true iff the column holds no non-null value at all. */
  final case class ColStats(
      nullCount: Option[Long],
      numRange: Option[(BigDecimal, BigDecimal)],
      strMinFirstByte: Option[Int],
      allNull: Boolean)

  /** (root path, frame-column → footer-column) when `df` is a pure
    * rename-projection chain over one unpartitioned parquet relation. */
  private[quality] def origin(df: DataFrame): Option[(String, Map[String, String])] = {
    def walk(plan: LogicalPlan): Option[(Seq[String], Map[ExprId, String])] =
      plan match {
        case p: Project =>
          walk(p.child).map { case (roots, childMap) =>
            val m = p.projectList.flatMap {
              case a: AttributeReference =>
                childMap.get(a.exprId).map(a.exprId -> _)
              case al @ Alias(ar: AttributeReference, _) =>
                childMap.get(ar.exprId).map(al.exprId -> _)
              case _ => None // computed column: unmapped, not a failure
            }.toMap
            (roots, m)
          }
        case s: SubqueryAlias => walk(s.child)
        case l: LogicalRelation => l.relation match {
          case h: HadoopFsRelation if h.partitionSchema.isEmpty =>
            Some((h.location.rootPaths.map(_.toString),
              l.output.map(a => a.exprId -> a.name).toMap))
          case _ => None
        }
        case _ => None // Filter/Join/Aggregate/...: footer ≠ frame rows
      }
    walk(df.queryExecution.analyzed).collect {
      case (Seq(root), byAttr) =>
        root -> df.queryExecution.analyzed.output
          .flatMap(a => byAttr.get(a.exprId).map(a.name -> _)).toMap
    }
  }

  /** One file's folded footer statistics — associative-merge carrier, so
    * the per-file work can run driver-side (few files) or as executor
    * tasks (many files) with IDENTICAL semantics: both paths call this
    * function and [[merge]], nothing else. */
  private final case class Partial(
      rows: Long,
      nulls: Long, nullsUnset: Boolean,
      lo: BigDecimal, hi: BigDecimal, badRange: Boolean,
      strMin: Int, badStr: Boolean, nonNull: Boolean)

  private def emptyPartial: Partial =
    Partial(0L, 0L, nullsUnset = false, null, null, badRange = false,
      Int.MaxValue, badStr = false, nonNull = false)

  private def merge(a: Partial, b: Partial): Partial = Partial(
    rows = a.rows + b.rows,
    nulls = a.nulls + b.nulls,
    nullsUnset = a.nullsUnset || b.nullsUnset,
    lo = if (a.lo == null) b.lo else if (b.lo == null || a.lo < b.lo) a.lo else b.lo,
    hi = if (a.hi == null) b.hi else if (b.hi == null || a.hi > b.hi) a.hi else b.hi,
    badRange = a.badRange || b.badRange,
    strMin = math.min(a.strMin, b.strMin),
    badStr = a.badStr || b.badStr,
    nonNull = a.nonNull || b.nonNull)

  /** Fold one data file's row-group statistics for `footerCols`.
    *
    * Schema evolution is handled EXACTLY, not optimistically: a requested
    * column absent from THIS file's schema is read as NULL for every one
    * of its rows by Spark's scan, so the file contributes its whole row
    * count to the column's null count (and no non-null values — the
    * range/string proofs see an all-null group); a column present but
    * non-primitive (a group the scan would read as a struct) has no
    * usable chunk statistics and poisons every proof for the column. */
  private def statsOfFile(pathStr: String, footerCols: Set[String],
      conf: org.apache.hadoop.conf.Configuration): (Long, Map[String, Partial]) = {
    val p = new org.apache.hadoop.fs.Path(pathStr)
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    val footer = try reader.getFooter finally reader.close()
    var rowCount = 0L
    val acc = scala.collection.mutable.Map.empty[String, Partial]
      .withDefaultValue(emptyPartial)
    footer.getBlocks.forEach { block =>
      rowCount += block.getRowCount
      block.getColumns.forEach { chunk =>
        val path = chunk.getPath
        if (path.size == 1 && footerCols.contains(path.toDotString)) {
          var a = acc(path.toDotString)
          val stats = chunk.getStatistics
          if (stats == null || !stats.isNumNullsSet)
            a = a.copy(nullsUnset = true)
          else a = a.copy(nulls = a.nulls + stats.getNumNulls)
          val groupAllNull = stats != null && stats.isNumNullsSet &&
            stats.getNumNulls == block.getRowCount
          if (!groupAllNull) {
            a = a.copy(nonNull = true)
            if (stats == null || !stats.hasNonNullValue) {
              a = a.copy(badRange = true, badStr = true)
            } else {
              import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
              val pt = chunk.getPrimitiveType
              val ann = pt.getLogicalTypeAnnotation
              val plain = ann == null
              val str = ann != null && ann.isInstanceOf[
                org.apache.parquet.schema.LogicalTypeAnnotation.StringLogicalTypeAnnotation]
              def num(v: Any): BigDecimal = v match {
                case i: java.lang.Integer => BigDecimal(i.intValue)
                case l: java.lang.Long => BigDecimal(l.longValue)
                case f: java.lang.Float => BigDecimal.decimal(f.floatValue)
                case d: java.lang.Double => BigDecimal(d.doubleValue)
              }
              pt.getPrimitiveTypeName match {
                case INT32 | INT64 | FLOAT | DOUBLE if plain =>
                  val (mn, mx) = (num(stats.genericGetMin), num(stats.genericGetMax))
                  a = a.copy(
                    lo = if (a.lo == null || mn < a.lo) mn else a.lo,
                    hi = if (a.hi == null || mx > a.hi) mx else a.hi,
                    badStr = true)
                case BINARY if str =>
                  val bytes = stats.genericGetMin
                    .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
                  a =
                    if (bytes.isEmpty) a.copy(badStr = true, badRange = true)
                    else a.copy(
                      strMin = math.min(a.strMin, bytes(0) & 0xff),
                      badRange = true)
                case _ => a = a.copy(badRange = true, badStr = true)
              }
            }
          }
          acc(path.toDotString) = a
        }
      }
    }
    val schema = footer.getFileMetaData.getSchema
    footerCols.foreach { c =>
      if (!schema.containsField(c))
        // missing column ⇒ the scan reads NULL for every row of this file
        acc(c) = merge(acc(c), emptyPartial.copy(nulls = rowCount))
      else if (!schema.getType(schema.getFieldIndex(c)).isPrimitive)
        // a group column has no usable chunk statistics: poison every
        // proof rather than report Some(0) for rows we cannot see
        acc(c) = merge(acc(c), emptyPartial.copy(
          nullsUnset = true, badRange = true, badStr = true, nonNull = true))
    }
    (rowCount, acc.toMap)
  }

  /** Files per footer-read task on the distributed path; also the
    * driver-side cutoff — at or below this many files the footers are
    * read in-process (no job is worth launching), above it the reads fan
    * out as one lightweight metadata task per [[FilesPerTask]] files (a
    * 100-TB table has tens of thousands of data files; reading every
    * footer sequentially on the driver would serialize exactly the
    * latency a cluster exists to parallelize — rows are still never
    * read on either path). */
  private[quality] val FilesPerTask = 64

  /** Directory-frontier size above which LISTING fans out as executor
    * tasks too: a partitioned 100-TB table has thousands of partition
    * directories, and walking them one `listStatus` round-trip at a time
    * on the driver serializes namenode/object-store latency exactly the
    * way the sequential footer reads did. At or below this many pending
    * directories a level is listed in-process. */
  private[quality] val DirsPerDriverList = 8

  /** One directory level: (data files, subdirectories) — object-level so
    * the executor-task closure serializes as a module reference. */
  private def listOne(dirStr: String,
      c: org.apache.hadoop.conf.Configuration): (Seq[String], Seq[String]) = {
    val d = new org.apache.hadoop.fs.Path(dirStr)
    val entries = d.getFileSystem(c).listStatus(d).toSeq
      .filter { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }
    val (dirs, files) = entries.partition(_.isDirectory)
    (files.map(_.getPath.toString), dirs.map(_.getPath.toString))
  }

  /** Every data file under `root`, hidden files/dirs skipped — a
    * breadth-first walk whose per-LEVEL directory listings fan out as
    * executor tasks once the frontier outgrows [[DirsPerDriverList]]
    * (session hadoop conf shipped by broadcast, same as the footer
    * reads); small flat tables never launch a job. */
  private def listFiles(spark: org.apache.spark.sql.SparkSession,
      root: org.apache.hadoop.fs.Path,
      conf: org.apache.hadoop.conf.Configuration): Seq[String] = {
    val out = Seq.newBuilder[String]
    var frontier: Seq[String] = Seq(root.toString)
    // broadcast the session conf AT MOST once, and only if a level
    // actually distributes (a lazy val here would smuggle the
    // non-serializable Configuration into the task closure via its
    // LazyRef capture)
    var bc: org.apache.spark.broadcast.Broadcast[
      org.apache.spark.util.SerializableConfiguration] = null
    while (frontier.nonEmpty) {
      val listed: Seq[(Seq[String], Seq[String])] =
        if (frontier.size <= DirsPerDriverList)
          frontier.map(listOne(_, conf))
        else {
          if (bc == null) bc = spark.sparkContext.broadcast(
            new org.apache.spark.util.SerializableConfiguration(conf))
          val b = bc
          spark.sparkContext
            .parallelize(frontier,
              math.min(frontier.size, spark.sparkContext.defaultParallelism))
            .map(d => listOne(d, b.value.value))
            .collect().toSeq
        }
      listed.foreach { case (fs, _) => out ++= fs }
      frontier = listed.flatMap(_._2)
    }
    out.result()
  }

  /** Read every data file's footer under `root` (row-group METADATA only,
    * never rows) and fold the statistics of the requested FOOTER columns.
    * Driver-side up to [[FilesPerTask]] files; a parallel metadata-only
    * job above that. */
  private[quality] def read(spark: org.apache.spark.sql.SparkSession,
      root: String, footerCols: Set[String]): TableStats = {
    val conf = spark.sessionState.newHadoopConf()
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val paths = listFiles(spark, rootPath, conf)
    val cols = footerCols // capture only serializable values in the tasks
    val perFile: Seq[(Long, Map[String, Partial])] =
      if (paths.size <= FilesPerTask)
        paths.map(statsOfFile(_, cols, conf))
      else {
        // ship the SESSION hadoop conf (fs credentials, spark.hadoop.*
        // overrides) to the tasks — executor-default Configuration would
        // silently drop them on object stores
        val bc = spark.sparkContext.broadcast(
          new org.apache.spark.util.SerializableConfiguration(conf))
        spark.sparkContext
          .parallelize(paths, math.max(1, paths.size / FilesPerTask))
          .map(statsOfFile(_, cols, bc.value.value))
          .collect().toSeq
      }
    val rowCount = perFile.map(_._1).sum
    val folded: Map[String, Partial] = footerCols.iterator.map { c =>
      c -> perFile.flatMap(_._2.get(c)).foldLeft(emptyPartial)(merge)
    }.toMap
    TableStats(rowCount, folded.map { case (name, a) =>
      name -> ColStats(
        nullCount = if (a.nullsUnset) None else Some(a.nulls),
        numRange =
          if (a.badRange || !a.nonNull || a.lo == null) None
          else Some((a.lo, a.hi)),
        strMinFirstByte =
          if (a.badStr || !a.nonNull || a.strMin == Int.MaxValue) None
          else Some(a.strMin),
        allNull = !a.nonNull)
    })
  }

}
