package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SaveMode}
import org.apache.spark.sql.connector.read.streaming.ReadLimit

/** The sink read as a streaming source under `Trigger.AvailableNow`. */
class SinkStreamSpec extends graft.SparkSpec {

  private def append(dir: String, lo: Int, hi: Int): Unit =
    spark.createDataFrame((lo to hi).map(i => Row(s"vendor-$i", s"item $i",
        "2024-01-01", s"C${i % 3}", f"U$i%09dD")).asJava, FormSinkSource.schema)
      .repartition(1)
      .write.format(FormSinkSource.Format).mode(SaveMode.Append)
      .option("path", dir).save()

  test("AvailableNow pins its end: a version committed after prepare lies beyond it") {
    val dir = Files.createTempDirectory("graft-stream").toString
    append(dir, 1, 10)
    val stream = new FormSinkMicroBatchStream(dir, FormSinkSource.schema)
    assert(stream.getDefaultReadLimit === ReadLimit.allAvailable())
    stream.prepareForTriggerAvailableNow()
    append(dir, 11, 30)
    val end = stream.latestOffset(stream.initialOffset(), ReadLimit.allAvailable())
    assert(end === SinkVersionOffset(1L))
    assert(stream.latestOffset() === SinkVersionOffset(2L))
    assert(stream.planInputPartitions(stream.initialOffset(), end).length === 1)
  }
}
