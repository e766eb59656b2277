package graft.sources.bucketed

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.types.StructType

/** The store's decoders, for specs and properties outside this package. */
object DecodedRows {

  /** `rows` staged by the write path's writer ([[BucketedDataWriter]])
    * as one bucket, sent through Spark's Kryo serializer as the task
    * result, and merged as the driver merges it: the rows a load keeps.
    */
  def viaPayload(schema: StructType, rows: Seq[Seq[Any]]): Array[Row] = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    // a one-bucket range layout routes every key, of any type, to bucket 0
    val w = new BucketedDataWriter(schema, schema.fieldNames.head, 1, Some(Array.empty[Any]))
    rows.foreach(v => w.write(toCatalyst(new GenericRowWithSchema(v.toArray, schema))
      .asInstanceOf[InternalRow]))
    val kryo = new org.apache.spark.serializer.KryoSerializer(
      new org.apache.spark.SparkConf()).newInstance()
    val msg = kryo.deserialize[WriterCommitMessage](kryo.serialize[WriterCommitMessage](w.commit()))
    BucketWriteCommit.merge(Array(msg), 1)(0)
  }

  /** `rows` written as one block file and read back ([[FileStore.readBlock]]). */
  def viaFile(schema: StructType, rows: Seq[Seq[Any]]): Array[Row] = {
    val dir = java.nio.file.Files.createTempDirectory("graft-decoded-rows")
    try {
      val plain = rows.map(v => new GenericRowWithSchema(v.toArray, schema): Row).toArray
      FileStore.readBlock(FileStore.spillBlock(dir, "block", schema, plain))
    } finally {
      val files = java.nio.file.Files.list(dir)
      try files.forEach(f => java.nio.file.Files.delete(f)) finally files.close()
      java.nio.file.Files.delete(dir)
    }
  }
}
