package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructField, StructType}

/** Driver-side view of a bucket-partitioned index relation
  * (`dir/<bucketCol>=<v>/part-*.parquet`) — the layout every persisted
  * index shares (signature `docs`/`postings`/`hashes`, the text index's
  * postings, IVF-PQ `codes`). Everything here is file-system listing plus
  * at most one parquet footer read on the driver: no Spark job.
  *
  *  - [[bucketFileCounts]] is the bucket census the `maintenanceDue`
  *    verdicts report and compaction uses to skip relations whose buckets
  *    already hold one file each (rewriting those changes nothing).
  *  - [[read]] is `spark.read.parquet(dir)` with the schema DECLARED
  *    instead of inferred. Inference runs a one-task Spark job per read;
  *    the declared schema is the one Spark stored in a data file's footer
  *    (`org.apache.spark.sql.parquet.row.metadata`) plus the bucket column
  *    typed as partition inference types it — exactly what inference
  *    returns, so readers cannot tell the difference.
  */
private[graft] object IndexRelation {

  // Spark skips `_`/`.` names (`_SUCCESS`, checksums) when it reads
  private def visible(p: Path): Boolean =
    !p.getName.startsWith("_") && !p.getName.startsWith(".")

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def bucketDirs(fs: FileSystem, root: Path): Seq[Path] =
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && visible(s.getPath)).map(_.getPath)

  private def dataFiles(fs: FileSystem, bucket: Path): Seq[FileStatus] =
    fs.listStatus(bucket).toSeq.filter(f => f.isFile && visible(f.getPath))

  /** Number of data files in each bucket directory of `dir`. */
  def bucketFileCounts(spark: SparkSession, dir: String): Seq[Int] = {
    val root = new Path(dir)
    val fs = fsOf(spark, root)
    bucketDirs(fs, root).map(dataFiles(fs, _).size)
  }

  /** Some bucket of `dir` holds more than one data file — the only state
    * in which a compaction rewrite of the relation changes anything. */
  def needsCompaction(spark: SparkSession, dir: String): Boolean =
    bucketFileCounts(spark, dir).exists(_ > 1)

  /** Read relation `dir` without a schema-inference job. Falls back to
    * inference when there is no data file to take the schema from — an
    * empty relation, which inference refuses as it always did.
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    schemaOf(spark, dir).fold(spark.read.parquet(dir))(
      spark.read.schema(_).parquet(dir))

  private[graft] def schemaOf(spark: SparkSession, dir: String): Option[StructType] = {
    val root = new Path(dir)
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) return None
    val buckets = bucketDirs(fs, root)
    buckets.iterator.flatMap(dataFiles(fs, _)).nextOption()
      .flatMap(f => footerSchema(spark, f.getPath))
      .map { s =>
        val kv = buckets.map(_.getName.split("=", 2))
        // partition inference types integral values INT, widening to
        // BIGINT (IVF-PQ list ids are vector ids, which may not fit INT)
        val t = if (kv.forall(_(1).toIntOption.isDefined)) IntegerType else LongType
        StructType(s.fields :+ StructField(kv.head(0), t))
      }
  }

  private def footerSchema(spark: SparkSession, file: Path): Option[StructType] = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file,
        spark.sparkContext.hadoopConfiguration))
    try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
      .map(DataType.fromJson(_)).collect { case s: StructType => s }
    finally reader.close()
  }
}
