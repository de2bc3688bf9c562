package graft.table

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Opening a Parquet file with a Hadoop conf in hand. Parquet-java's
  * `ParquetFileReader.open(InputFile)` and `ParquetReader.builder(…, path)`
  * build their read options from a `new Configuration()`, which parses
  * `core-default.xml` again on every open. */
private[graft] object ParquetFiles {
  def open(conf: Configuration, path: Path): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(path, conf),
      HadoopReadOptions.builder(conf, path).build())
}
