package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types._

/** The plumbing every streaming entry point shares: the file-stream source
  * over a landing directory and the AvailableNow drain into its sink.
  */
object FileStream {

  /** binaryFile's schema is fixed, so it is declared, not probed: a batch
    * read of the landing dir would return only this constant.
    */
  private val BinaryFileSchema: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("modificationTime", TimestampType),
    StructField("length", LongType),
    StructField("content", BinaryType)))

  /** A `format` file stream over `dir`: files matching `glob` ("" = every
    * file), at most `maxFilesPerTrigger` of them per micro-batch (0 = all
    * that have landed). A parquet stream takes its schema from a batch
    * read of `dir`; `coldStart` turns that read's failure (an empty
    * landing dir) into a schema instead.
    */
  def source(
      spark: SparkSession,
      dir: String,
      glob: String,
      maxFilesPerTrigger: Int,
      format: String = "parquet",
      coldStart: PartialFunction[Throwable, StructType] = PartialFunction.empty
  ): DataFrame = {
    val globOpt = Map("pathGlobFilter" -> glob).filter(_._2.nonEmpty)
    val schema =
      if (format == "binaryFile") BinaryFileSchema
      else try spark.read.format(format).options(globOpt).load(dir).schema
      catch coldStart
    val reader = spark.readStream.format(format).schema(schema).options(globOpt)
    (if (maxFilesPerTrigger > 0)
        reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
      else reader).load(dir)
  }

  /** Start `writer` on the AvailableNow trigger, checkpointed at
    * `checkpoint`, and return once every file that had landed is through
    * the sink; a later call with the same checkpoint takes only newer
    * files. The query is stopped on the way out, also when a micro-batch
    * fails, whose error this rethrows.
    */
  def drain(writer: DataStreamWriter[_], checkpoint: String): Unit = {
    val q = writer.option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable()
    finally q.stop()
  }
}
