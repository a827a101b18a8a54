package graft.etl

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Spark's generic XML source, configured as `DiscogsReleases.read`
  * was before [[ReleaseXmlFormat]] replaced it: the reference the
  * streaming reader is compared against, row for row.
  */
object XmlSourceReference {

  def read(spark: SparkSession, input: String): DataFrame =
    spark.read
      .format("xml")
      .option("rowTag", "release")
      .option("attributePrefix", "_")
      .option("valueTag", "_VALUE")
      .option("mode", "FAILFAST")
      .schema(ReleaseSchema.xmlSchema)
      .load(input)

  /** `transformReleases` over both readers: (streaming reader, XML source). */
  def bothReaders(spark: SparkSession, input: String): (Seq[Row], Seq[Row]) =
    (DiscogsReleases.transformReleases(DiscogsReleases.read(spark, input)).collect().toSeq,
      DiscogsReleases.transformReleases(read(spark, input)).collect().toSeq)
}
