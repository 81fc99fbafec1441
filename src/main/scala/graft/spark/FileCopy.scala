package graft.spark

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path => HPath}
import org.apache.spark.sql.SparkSession

import graft.core._
import graft.core.TableVersions.CommitId

/**
 * The byte tier shared by DEEP CLONE and the copy-on-write SQL
 * `INSERT INTO`: when a state's files on disk are exactly its rows, a
 * writer that must carry that state into new version dirs copies the data
 * files byte for byte instead of decoding and re-encoding their rows —
 * file sizes and statistics carry over exactly, at storage bandwidth.
 */
object FileCopy {

  /** Whether the files of `table`'s state at `at` are exactly its rows, from
    * the log alone (no file-system call, no Spark job): no column mapping
    * (renames, drops, widening), no live deletion vectors, no overlay rows,
    * one partition era, and no recorded [[SchemaStates]] (declared nested
    * ADDs and TYPE widening leave heterogeneous files behind, which a
    * single-footer inference could read without the evolved fields). */
  def filesAreRows(
      spark: SparkSession, log: TableVersions, table: TableDefinition, at: CommitId): Boolean =
    !ColumnMapping.hasMapping(spark, log, table, Some(at)) &&
      !DeletionVectors.hasVectors(spark, log, table, Some(at)) &&
      RowOverlay.contributions(spark, log, table, Some(at)).isEmpty &&
      PartitionEvolution.eraSignatures(log.versionAt(table.name, at)).size <= 1 &&
      SchemaStates.at(spark, log, table, at).isEmpty

  /** The data files of a version dir, listed on the driver: `_`- and
    * `.`-prefixed names (markers, checksums) are not data. */
  def dataFiles(fs: FileSystem, dir: HPath): Seq[String] =
    fs.listStatus(dir).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(_.getPath.getName)

  /** Byte-copy each `(srcDir, dstDir, name)` file as its own task, one job.
    * Source and destination resolve their OWN file systems, so a copy may
    * cross schemes or authorities. `what` names the operation in errors. */
  def copy(spark: SparkSession, files: Seq[(String, String, String)], what: String): Unit =
    if (files.nonEmpty) {
      val sconf = new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf())
      val sc = spark.sparkContext
      val slices = math.max(1, math.min(files.size, sc.defaultParallelism))
      sc.parallelize(files, slices).foreachPartition { it =>
        var srcFs: FileSystem = null
        var dstFs: FileSystem = null
        it.foreach { case (s, d, name) =>
          if (srcFs == null) srcFs = new HPath(s).getFileSystem(sconf.value)
          if (dstFs == null) dstFs = new HPath(d).getFileSystem(sconf.value)
          val dstDir = new HPath(d)
          dstFs.mkdirs(dstDir)
          if (!FileUtil.copy(
              srcFs, new HPath(new HPath(s), name),
              dstFs, new HPath(dstDir, name),
              false, true, sconf.value))
            sys.error(s"$what: failed to copy $s/$name to $d/$name")
        }
      }
    }
}
