package graft.sources.bucketed

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types.StructType

/** The store's decoders, for specs and properties outside this package. */
object DecodedRows {

  /** `rows` written and read back through the commit payload codec
    * ([[RowPayloadCodec]]) as one bucket: the rows a load keeps.
    */
  def viaPayload(schema: StructType, rows: Seq[Seq[Any]]): Array[Row] = {
    val payload: Array[Array[Row]] =
      Array(rows.map(v => new GenericRowWithSchema(v.toArray, schema): Row).toArray)
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    RowPayloadCodec.write(payload, new RowPayloadCodec.JavaOut(oos))
    oos.close()
    val ois = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bos.toByteArray))
    RowPayloadCodec.read(new RowPayloadCodec.JavaIn(ois))(0)
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
