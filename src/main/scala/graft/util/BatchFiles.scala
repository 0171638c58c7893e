package graft.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.OneToOneDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{FileScanRDD, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader}

import scala.jdk.CollectionConverters._

/** The files behind a batch that is nothing but one file scan, and what
  * their parquet footers say, read on the driver with no Spark job.
  */
object BatchFiles {

  /** The files `df` reads when its analyzed plan is only projections over
    * one file scan, so that it yields exactly their rows; None for any
    * other plan. Two scans count:
    *  - a `LogicalRelation` over a parquet `HadoopFsRelation`
    *    (`spark.read.parquet`);
    *  - the `LogicalRDD` that `foreachBatch` hands over, whose RDD lineage
    *    is a chain of one-to-one steps down to a `FileScanRDD`. Its
    *    `inputFiles` is empty, so the files come from the scan's
    *    partitions. The physical steps above the scan are not visible
    *    here: a caller may only use what the files say as a hint.
    */
  def scanned(df: DataFrame): Option[Seq[Path]] = {
    def belowProjects(p: LogicalPlan): LogicalPlan = p match {
      case Project(_, child) => belowProjects(child)
      case other => other
    }
    def fileScan(rdd: RDD[_]): Option[FileScanRDD] = rdd match {
      case f: FileScanRDD => Some(f)
      case r => r.dependencies match {
        case Seq(d: OneToOneDependency[_]) => fileScan(d.rdd)
        case _ => None
      }
    }
    belowProjects(df.queryExecution.analyzed) match {
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation if r.fileFormat.isInstanceOf[ParquetFileFormat] =>
          Some(r.location.inputFiles.toSeq.map(new Path(_)))
        case _ => None
      }
      case l: LogicalRDD => fileScan(l.rdd).map(
        _.filePartitions.flatMap(_.files.map(_.filePath.toPath)).distinct)
      case _ => None
    }
  }

  /** Rows of the parquet files `files`, summed from their footers. */
  def footerRows(conf: Configuration, files: Seq[Path]): Long =
    files.map(f => footer(conf, f, ParquetMetadataConverter.NO_FILTER)
      .getBlocks.asScala.map(_.getRowCount).sum).sum

  /** Top-level column names of the parquet file `f`. */
  def footerColumns(conf: Configuration, f: Path): Seq[String] =
    footer(conf, f, ParquetMetadataConverter.SKIP_ROW_GROUPS)
      .getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSeq

  // Spark's footer reader: ~0.1 ms a file, where opening a
  // ParquetFileReader costs milliseconds
  private def footer(conf: Configuration, f: Path,
      filter: ParquetMetadataConverter.MetadataFilter): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromPath(f, conf), filter)
}
