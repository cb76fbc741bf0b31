package perfbench

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** Writes message files in the connector's message schema directly with the
  * parquet library: the inputs are ready before the engine starts. */
object ParquetFiles {
  private val schema = MessageTypeParser.parseMessageType(
    """message msg {
      |  optional int64 msg_id;
      |  optional binary topic (STRING);
      |  optional int64 publish_time (TIMESTAMP(MICROS,true));
      |  optional binary data (STRING);
      |}""".stripMargin)

  def write(path: java.nio.file.Path, msgs: Seq[Msg]): Unit = {
    val groups = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(path))
      .withType(schema).withCompressionCodec(CompressionCodecName.SNAPPY).build()
    try msgs.foreach { m =>
      w.write(groups.newGroup().append("msg_id", m.msgId).append("topic", m.topic)
        .append("publish_time", m.publishMicros).append("data", m.data))
    } finally w.close()
  }
}
