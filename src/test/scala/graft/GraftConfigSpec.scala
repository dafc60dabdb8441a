package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftConfigSpec extends AnyFunSuite {

  private val sample =
    """
      |# top comment
      |graft {
      |  producer {
      |    data {
      |      sourceDir = "/data/sf1"   # inline comment
      |      batchSize = 250
      |      intervalSeconds: 5        // colon separator + slash comment
      |    }
      |    file { outputDir = /tmp/bus }
      |  }
      |  consumer {
      |    output {
      |      drainOnce = true
      |      format = parquet
      |    }
      |  }
      |}
      |""".stripMargin

  test("parse: nesting, comments, quotes, separators, types") {
    val c = GraftConfig.parse(sample)
    assert(c.str("graft.producer.data.sourceDir", "") === "/data/sf1")
    assert(c.long("graft.producer.data.batchSize") === 250L)
    assert(c.long("graft.producer.data.intervalSeconds") === 5L)
    assert(c.str("graft.producer.file.outputDir", "") === "/tmp/bus")
    assert(c.bool("graft.consumer.output.drainOnce") === true)
    assert(c.str("graft.consumer.output.format", "") === "parquet")
  }

  test("defaults apply for absent keys; overlay overrides win") {
    val c = GraftConfig.parse(sample)
    assert(c.str("graft.consumer.output.directory", "/fallback") === "/fallback")
    // an absent key falls back to the code Defaults
    assert(c.int("graft.consumer.source.maxFilesPerTrigger") === 2)
    val over = c.overlay(Map("graft.producer.data.batchSize" -> "9"))
    assert(over.long("graft.producer.data.batchSize") === 9L)
    assert(over.str("graft.producer.data.sourceDir", "") === "/data/sf1")
  }

  test("bundled graft.conf resource loads with the reference key shapes") {
    val c = GraftConfig.loadWithDefaults(None)
    // the reference's producer data/file + consumer source/output blocks
    assert(c.strOpt("graft.producer.data.sourceDir").nonEmpty)
    assert(c.strOpt("graft.producer.file.outputDir").nonEmpty)
    assert(c.strOpt("graft.consumer.source.directory").nonEmpty)
    assert(c.strOpt("graft.consumer.output.directory").nonEmpty)
    assert(c.long("graft.consumer.output.triggerSeconds") >= 0L)
  }

  test("site file overlays bundled defaults; missing file = defaults") {
    val f = java.nio.file.Files.createTempFile("graft_site", ".conf")
    java.nio.file.Files.writeString(f,
      "graft { consumer { output { format = json } } }")
    val c = GraftConfig.loadWithDefaults(Some(f.toString))
    assert(c.str("graft.consumer.output.format", "") === "json")
    // untouched default survives the overlay
    assert(c.strOpt("graft.producer.file.outputDir").nonEmpty)
    val miss = GraftConfig.loadWithDefaults(Some("/nonexistent/x.conf"))
    assert(miss.strOpt("graft.producer.file.outputDir").nonEmpty)
  }

  test("bare URI values survive the // comment rule") {
    val c = GraftConfig.parse(
      """g {
        |  a = hdfs://namenode:8020/data   // trailing comment still works
        |  b = s3a://bucket/prefix
        |  c = "http://quoted/kept"  # hash comment
        |}""".stripMargin)
    assert(c.str("g.a", "") === "hdfs://namenode:8020/data")
    assert(c.str("g.b", "") === "s3a://bucket/prefix")
    assert(c.str("g.c", "") === "http://quoted/kept")
  }

  test("bundled graft.conf never drifts from the code Defaults") {
    val res = GraftConfig.resourceConf()
    assert(res.entries.nonEmpty, "resource missing from classpath")
    // every key present in the resource must exist in Defaults with the
    // SAME value, and vice versa — one source of truth, two renderings
    assert(res.entries === GraftConfig.Defaults)
  }

  test("malformed input fails loudly") {
    assertThrows[IllegalArgumentException](GraftConfig.parse("a { b = 1"))
    assertThrows[IllegalArgumentException](GraftConfig.parse("}"))
    assertThrows[IllegalArgumentException](GraftConfig.parse("a { novalue }"))
  }

  test("a malformed long, int or boolean fails, naming the key and the value") {
    val bad = GraftConfig.loadWithDefaults(None).overlay(Map(
      "graft.consumer.output.triggerSeconds" -> "1s",
      "graft.consumer.source.maxFilesPerTrigger" -> "2.5",
      "graft.consumer.output.drainOnce" -> "yes"))
    def failure(f: => Any): String =
      intercept[IllegalArgumentException](f).getMessage
    val long = failure(bad.long("graft.consumer.output.triggerSeconds"))
    assert(long.contains("graft.consumer.output.triggerSeconds") &&
      long.contains("'1s'"), long)
    val int = failure(bad.int("graft.consumer.source.maxFilesPerTrigger"))
    assert(int.contains("graft.consumer.source.maxFilesPerTrigger") &&
      int.contains("'2.5'"), int)
    val bool = failure(bad.bool("graft.consumer.output.drainOnce"))
    assert(bool.contains("graft.consumer.output.drainOnce") &&
      bool.contains("'yes'"), bool)
    // the sink's config reader is one such caller
    val sink = failure(graft.streaming.MultiSink.Config.fromConf(bad,
      keyA = "user_id", tagA = "a", keyB = "event_type", tagB = "b"))
    assert(sink.contains("graft.consumer.output.triggerSeconds"), sink)
    // a key with neither a value nor a default is named too
    assert(failure(bad.str("graft.no.such.key")).contains("graft.no.such.key"))
  }
}
