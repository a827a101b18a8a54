package graft.etl

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.datasources.{CodecStreams, FileFormat, OutputWriterFactory, PartitionedFile}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Read-only Spark file source for Discogs `releases` dumps: each file
  * (plain or compressed — `CodecStreams` picks the codec from the
  * extension) is one task that streams it through [[ReleaseReader]],
  * producing rows of [[ReleaseSchema.xmlSchema]]. Files are not
  * splittable, the same sequential bound as the reference; many files
  * (or [[DiscogsReleases.rechunk]]) give parallelism.
  *
  * Use: `spark.read.format(classOf[ReleaseXmlFormat].getName)`.
  */
class ReleaseXmlFormat extends FileFormat {

  override def inferSchema(
      spark: SparkSession,
      options: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] = Some(ReleaseSchema.xmlSchema)

  override def prepareWrite(
      spark: SparkSession,
      job: Job,
      options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory =
    throw new UnsupportedOperationException("ReleaseXmlFormat is read-only")

  override def buildReader(
      spark: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    val full = ReleaseSchema.xmlSchema
    requiredSchema.foreach(f => require(full.find(_.name == f.name).exists(_.dataType == f.dataType),
      s"ReleaseXmlFormat reads only ReleaseSchema.xmlSchema, not column $f"))
    // Column pruning: the reader always builds whole rows; keep the asked-for columns.
    val cols = requiredSchema.fieldNames.map(full.fieldIndex)
    val pruned = !cols.sameElements(full.indices)
    val conf = spark.sparkContext.broadcast(new SerializableConfiguration(hadoopConf))
    file => {
      val in = CodecStreams.createInputStreamWithCloseResource(conf.value.value, file.toPath)
      val rows = new ReleaseReader(in, file.urlEncodedPath)
      if (!pruned) rows
      else rows.map(r => new GenericInternalRow(cols.map[Any](i => r.get(i, full(i).dataType))))
    }
  }

  override def toString: String = "ReleaseXml"
}
