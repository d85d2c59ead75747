package graft.ingest

import graft.SparkSpec
import graft.ingest.examples.{Item, JsonItemTransformer}
import org.scalatest.funsuite.AnyFunSuite

/** A24 path resolution: reference-parity trim/join/qualify rules
  * (sink_s3.go:151-175) and the sink-write success event emission
  * (ingestor.go:757-769). */
class SinkPathResolveSpec extends AnyFunSuite {

  test("resolve joins prefix and key with leading slashes trimmed (reference parity)") {
    assert(SinkPath.resolve("s3", "bucket", "pre", "/2024/01/x.parquet") ==
      "s3://bucket/pre/2024/01/x.parquet")
    assert(SinkPath.resolve("s3", "bucket", "", "///k") == "s3://bucket/k")
    assert(SinkPath.resolve("s3", "bucket", "p", "k") == "s3://bucket/p/k")
  }

  test("display qualifies bare paths and normalizes URIs through resolve") {
    assert(SinkPath.display("s3a://b/k") == "s3a://b/k")
    assert(SinkPath.display("s3a://b///k") == "s3a://b/k")
    assert(SinkPath.display("/tmp/x").startsWith("file:///"))
  }

  test("fileName is path.Base") {
    assert(SinkPath.fileName("a/b/c.parquet") == "c.parquet")
    assert(SinkPath.fileName("c.parquet") == "c.parquet")
    assert(SinkPath.fileName("a/b/") == "b")
    assert(SinkPath.fileName("/") == "/")
    assert(SinkPath.fileName("") == ".")
  }
}

class SinkPathSpec extends SparkSpec {

  test("processBatch emits the A24 sink-write event with the resolved path") {
    import spark.implicits._
    val events = scala.collection.mutable.ArrayBuffer.empty[(String, Map[String, Any])]
    val recorder = new graft.observability.KvLogger {
      def debug(e: String, kv: (String, Any)*): Unit = ()
      def info(e: String, kv: (String, Any)*): Unit =
        events.synchronized { events += (e -> kv.toMap); () }
      def warn(e: String, kv: (String, Any)*): Unit = ()
      def error(e: String, kv: (String, Any)*): Unit = ()
    }
    val out = tmpDir("sinkpath")
    val pipe = IngestPipeline[Item](
      transformer = new JsonItemTransformer,
      sinkPath = s"$out/sink",
      checkpointPath = s"$out/cp",
      log = recorder)
    val envs = spark.createDataset(Seq(
      Envelope("""{"id": 1, "name": "a", "value": 1.5}""", Map.empty[String, String])))
    pipe.processBatch(pipe.route(envs), batchId = 7L)
    val hit = events.find(_._1 == "ingest.flush.sink_write_succeeded")
    assert(hit.isDefined, s"events seen: ${events.map(_._1)}")
    val kv = hit.get._2
    assert(kv("key") == s"$out/sink")
    assert(kv("path").toString.startsWith("file:///") &&
      kv("path").toString.endsWith("/sink"))
    assert(kv("file_name") == "sink")
    assert(kv("items") == 1L)
    // processing time: every row gets one timestamp, so one hour, and
    // such a flush is never clustered
    assert(kv("hours") == 1L)
    assert(kv("clustered") == false)
  }
}
