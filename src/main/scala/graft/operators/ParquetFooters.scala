package graft.operators

import scala.collection.parallel.CollectionConverters._
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Driver-side parquet footer reads: metadata only, no Spark job. */
object ParquetFooters {

  /** `f` applied to the footer of the parquet file at `file`. */
  def withFooter[T](file: Path, conf: Configuration)(
      f: ParquetMetadata => T): T = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try f(reader.getFooter)
    finally reader.close()
  }

  /** The file's row count: the sum of its row groups' counts, which is
    * what a parquet scan's `count()` returns for the file. */
  def rowCount(footer: ParquetMetadata): Long =
    footer.getBlocks.asScala.map(_.getRowCount).sum

  /** Per-file row counts of `files`, in order. The footer opens are
    * independent and I/O-bound, so they run in parallel on the driver:
    * many files cost about one footer latency, not one each. */
  def rowCounts(files: Seq[Path], conf: Configuration): Seq[Long] =
    files.par.map(withFooter(_, conf)(rowCount)).seq
}
