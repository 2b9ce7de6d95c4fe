package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What the streaming specs compare between two runs' stores and sinks. */
object StoreFiles {

  /** The Spark schema each data file under `root` stores in its footer. */
  def footerSchemas(spark: SparkSession, root: String): Set[String] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val ls = Files.walk(Paths.get(root))
    try ls.iterator().asScala.filter(_.toString.endsWith(".parquet")).map { p =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(p.toString), hconf))
      try r.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata")
      finally r.close()
    }.toSet
    finally ls.close()
  }

  /** A frame's rows as sorted strings. */
  def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
}
